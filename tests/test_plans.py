"""Physical-plan audits: the 100-TB concerns verified on .explain output.

These assert the *shape* of the plan, not results: column pruning reaches
the parquet scan, small sides broadcast, aggregates partial-combine
map-side, and the hot path stays in whole-stage codegen. Plan-only (no
execution), so they are cheap.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

import __spark_entry__ as em
from pargraph_spark.operators.pagerank import _vertex_base
from pargraph_spark.operators.similarity import cosine_topk

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_edge_build_scan_prunes_columns(spark):
    plan = _plan(em._co_edges(spark, SF))
    # the 11-column lineitem scan must read only the two join/select columns
    reads = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert reads, plan
    for r in reads:
        cols = {c.split(":")[0] for c in r.split(",") if c}
        assert cols <= {"l_orderkey", "l_partkey"}, cols


def test_filter_pushdown_reaches_scan(spark):
    df = em._t(spark, SF, "documents").where(F.col("doc_id") < 10).select("doc_id")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,10)" in plan, plan


def test_cosine_topk_broadcasts_queries(spark):
    emb = em._t(spark, SF, "embeddings")
    plan = _plan(cosine_topk(emb, emb.where(F.col("vec_id") < 5), k=3))
    assert "Broadcast" in plan, plan


def test_degree_agg_partial_combines(spark):
    # groupBy count must be partial+final HashAggregate pairs (map-side
    # combine = hub-skew safety for algebraic aggregates)
    plan = _plan(em._q_degrees(spark, SF))
    assert plan.count("HashAggregate") >= 2, plan
    assert "partial_count" in plan or "partial count" in plan.lower(), plan


def test_pagerank_message_agg_partial_combines(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    base = _vertex_base(edges, None).withColumn("rank", F.lit(0.5))
    msgs = (
        edges.join(
            base.where(F.col("outdeg") > 0).select(
                "id", (F.col("rank") / F.col("outdeg")).alias("w")
            ),
            edges["src"] == F.col("id"),
        )
        .groupBy("dst")
        .agg(F.sum("w").alias("msg"))
    )
    plan = _plan(msgs)
    assert "partial_sum" in plan, plan


def test_text_pipeline_stays_jvm_side(spark):
    # no BatchEvalPython / ArrowEvalPython in the text-analysis plan: every
    # expression is a builtin evaluated JVM-side directly over the scan.
    # (higher-order filter(lambda) exprs are not codegen-eligible, so no
    # WholeStageCodegen marker — but they are still JVM Catalyst exprs.)
    plan = _plan(em._q_doc_stats(spark, SF))
    assert "EvalPython" not in plan, plan
    assert "FileScan parquet" in plan, plan


def test_extraction_is_arrow_not_row_python(spark):
    from pargraph_spark.operators.extract_links import extract_links
    from pargraph_spark.synth import pages_df_local

    plan = _plan(extract_links(pages_df_local(spark, 5)))
    # mapInPandas shows as MapInPandas (Arrow-batched); row-at-a-time Python
    # UDFs would show BatchEvalPython
    assert "MapInPandas" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_labelprop_edges_not_reexchanged_per_round(spark):
    # Mirror of labelprop.py's per-round join (sym repartitioned on "u",
    # joined on u == labels.id): the persisted E-row edge side must be
    # probed in place — no Exchange between the join and the
    # InMemoryTableScan (a repartition on "v" would re-shuffle the full
    # edge table every superstep).
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = spark.createDataFrame(
        [(i, (i * 7) % 50) for i in range(200)], "src long, dst long"
    )
    fwd = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    sym = (
        fwd.unionByName(fwd.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .repartition(P, "u")
        .persist()
    )
    sym.count()
    labels = spark.range(50).select(F.col("id"), F.col("id").alias("label"))
    nbr = sym.join(labels, sym["u"] == labels["id"]).select(
        sym["v"].alias("id"), "label"
    )
    plan = _plan(nbr)
    # tree prints the sym (left/stream) side first: everything before the
    # cached InMemoryRelation is join + sym-side operators — must hold no
    # shuffle. (The labels side and the cached build plan may exchange.)
    prefix = plan.split("InMemoryRelation", 1)[0]
    assert "InMemoryTableScan" in prefix, plan
    assert "Exchange" not in prefix, plan
    sym.unpersist()


def test_adjacency_builds_in_one_exchange_on_hash_u(spark):
    # with AQE on in the session, edges.adjacency repartitions on u and
    # dedupes or combines in place: its cached plan holds ONE Exchange (the
    # input is a local relation, so every Exchange there is the helper's),
    # and the cache reports hashpartitioning(u, P), so a join on u probes
    # it in place
    from pargraph_spark.operators.edges import adjacency

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    P = 4
    edges = spark.createDataFrame(
        [(i % 30, (i * 7) % 40, i % 3) for i in range(300)], "src long, dst long, w long")
    for kw in ({}, {"symmetric": True}, {"symmetric": True, "weight": "sum"}):
        adj, _ = adjacency(edges if kw.get("weight") else edges.select("src", "dst"), P, **kw)
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"  # restored
        scan = adj._jdf.queryExecution().executedPlan()
        assert re.fullmatch(rf"hashpartitioning\(u#\d+L?, {P}\)",
                            scan.outputPartitioning().toString()), kw
        cached = scan.relation().cachedPlan().toString()
        assert cached.count("Exchange") == 1, (kw, cached)
        assert "Exchange hashpartitioning(u#" in cached, (kw, cached)
        probe = adj.join(spark.range(40).withColumnRenamed("id", "u").hint("shuffle_hash"),
                         "u")
        prefix = _plan(probe).split("InMemoryRelation", 1)[0]
        assert "InMemoryTableScan" in prefix and "Exchange hashpartitioning(u" not in prefix
        adj.unpersist()


def test_sessionize_single_exchange(spark):
    # session aggregation must reuse the window's hash(user_id)
    # partitioning: HashPartitioning(user_id) satisfies
    # ClusteredDistribution(user_id, session_id), so the E-row event table
    # shuffles exactly once
    from pargraph_spark.operators.events import sessionize

    events = em._t(spark, SF, "events")
    plan = _plan(sessionize(events, gap_minutes=30))
    assert plan.count("Exchange") == 1, plan


def test_ivf_assignment_no_window_no_corpus_exchange(spark):
    # cell assignment must be the broadcast-matmul argmax,
    # not a |corpus|·C crossJoin + row_number window. The only Window left
    # in the whole IVF plan is the final per-query top-k rank.
    from pargraph_spark.operators.similarity import ivf_topk

    emb = em._t(spark, SF, "embeddings")
    plan = _plan(ivf_topk(emb, emb.where(F.col("vec_id") < 5), k=3))
    # "Window [" is the exchange-backed window node; WindowGroupLimit rows
    # are the map-side top-k pushdown of that same final rank (fine).
    assert plan.count("Window [") == 1, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_winnow_cap_is_broadcast_anti_join(spark):
    # the hot-bucket guard must be an anti-join against the (tiny) hot-key
    # set — broadcast, never a shuffle of the postings table
    from pargraph_spark.operators.dedup import winnow_pairs

    docs = em._t(spark, SF, "documents")
    plan = _plan(winnow_pairs(docs, "doc_id", "text", max_postings=10))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan


def test_clustering_coefficient_partial_combines(spark):
    from pargraph_spark.operators.triangles import clustering_coefficient

    plan = _plan(clustering_coefficient(em._co_edges(spark, SF)))
    assert "partial_count" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan  # all JVM-side


def test_neighbor_sample_fanout_is_window_group_limit(spark):
    # the rn <= fanout filter must compile to WindowGroupLimit — Spark's
    # map-side partial top-k per src — so a hub ships `fanout` rows, not
    # its adjacency (the scale contract in neighbor_sample's docstring)
    from pargraph_spark.operators.sampling import neighbor_sample

    e = em._co_edges(spark, SF)
    seeds = e.select(F.col("src").alias("id")).where(F.col("id") % 7 == 0).distinct()
    plan = _plan(neighbor_sample(e, seeds, [4]))
    # a Final WindowGroupLimit bounds each src's rows to fanout BEFORE the
    # full Window sort; when the window input needs an exchange Spark also
    # inserts a Partial stage map-side — here the frontier join already
    # partitions by src, so one Final stage and zero extra exchanges
    assert "WindowGroupLimit" in plan, plan
    after_join = plan.split("SortMergeJoin")[0]
    assert "WindowGroupLimit" in after_join, plan


def test_core_numbers_round_has_no_escale_exchange(spark):
    # the scale contract in core_numbers' docstring: the E-scale join is
    # co-partitioned (sym pre-partitioned on v, estimates on id) and the
    # first groupBy partial-combines, so the only exchanges in a round's
    # plan sit at histogram scale. Mirror one round's plan and assert the
    # E-scale side (below the first HashAggregate) has no Exchange.
    e = em._co_edges(spark, SF)
    fwd = e.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    sym = (
        fwd.unionByName(fwd.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .where(F.col("u") != F.col("v")).distinct()
        .repartition(8, "v").persist()
    )
    sym.count()
    est = (
        sym.groupBy(F.col("u").alias("id")).agg(F.count("*").alias("c"))
        .repartition(8, "id").localCheckpoint(eager=True)
    )
    cv = est.select(F.col("id").alias("v"), F.col("c").alias("_cv"))
    raw = (
        sym.join(cv, "v")
        .groupBy("u", F.col("_cv").alias("xv"))
        .agg(F.count("*").alias("cnt"))
    )
    plan = _plan(raw)
    # the persisted E-scale sym side must be probed in place: no Exchange
    # between the join and the InMemoryTableScan (the V-scale estimate
    # side may exchange — that's the histogram-scale cost). NOTE this is
    # exactly why sym is persist()ed, not localCheckpoint()ed: an
    # ExistingRDD scan reports unknown partitioning and would force an
    # E-scale re-exchange every round.
    prefix = plan.split("InMemoryRelation", 1)[0]
    assert "InMemoryTableScan" in prefix, plan
    assert "Exchange hashpartitioning(v" not in prefix, plan
    # and the aggregate partial-combines (two HashAggregate stages)
    assert plan.count("HashAggregate") >= 2, plan
    sym.unpersist()


def test_hits_halfsteps_probe_copartitioned_edges(spark):
    # hits/salsa must keep TWO persisted edge copies,
    # partitioned on src and on dst, so NEITHER half-step re-exchanges
    # the E-scale edge table inside an iteration. Mirror both half-step
    # plans and assert no Exchange on the edge relation's own key below
    # the first aggregate (the V-scale score side may exchange — that is
    # the intended per-iteration cost).
    e = em._co_edges(spark, SF)
    e0 = e.where(F.col("src") != F.col("dst")).select("src", "dst").distinct()
    e_src = e0.repartition(8, "src").persist()
    e_dst = e0.repartition(8, "dst").persist()
    e_src.count()
    e_dst.count()
    h = (
        e_src.select(F.col("src").alias("id")).distinct()
        .withColumn("hub", F.lit(0.5))
        .localCheckpoint(eager=True)
    )
    fwd = (
        e_src.join(h, e_src["src"] == h["id"])
        .groupBy(e_src["dst"].alias("vid"))
        .agg(F.sum("hub").alias("authority"))
    )
    a = h.select("id", F.col("hub").alias("authority"))
    bwd = (
        e_dst.join(a, e_dst["dst"] == a["id"])
        .groupBy(e_dst["src"].alias("vid"))
        .agg(F.sum("authority").alias("hub"))
    )
    for df, key in ((fwd, "src"), (bwd, "dst")):
        plan = _plan(df)
        prefix = plan.split("InMemoryRelation", 1)[0]
        assert "InMemoryTableScan" in prefix, plan
        # the persisted edge copy is probed in place on its own key
        assert f"Exchange hashpartitioning({key}" not in prefix, plan
        # and the message aggregate partial-combines map-side
        assert plan.count("HashAggregate") >= 2, plan
    e_src.unpersist()
    e_dst.unpersist()


def test_tfidf_cosine_cap_is_broadcast_anti_join(spark):
    # the hot-term cap must broadcast (tiny hot set) and the dot-product
    # aggregate must partial-combine map-side
    from pargraph_spark.operators.dedup import tfidf_cosine_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(tfidf_cosine_pairs(docs, "doc_id", "text",
                                    threshold=0.2, max_postings=50))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def _tree_paths(plan: str, node: str) -> list[list[str]]:
    """For every ``node`` line of a ``formatted`` plan's tree that is not
    inside a cached relation's plan, its ancestors, nearest first."""
    lines = plan.split("\n\n\n(1) ", 1)[0].splitlines()[1:]
    depth = [re.search(r"[A-Za-z]", ln).start() for ln in lines]
    paths = []
    for i, ln in enumerate(lines):
        if node not in ln:
            continue
        up, d = [], depth[i]
        for j in range(i - 1, -1, -1):
            if depth[j] < d:
                up.append(lines[j].strip(" :+-*"))
                d = depth[j]
        if not any(a.startswith("InMemoryRelation") for a in up):
            paths.append(up)
    return paths


def test_scc_inner_fixpoints_probe_copartitioned_edges(spark, tmp_path, monkeypatch):
    # scc's own superstep plans, as its run_fixpoint calls dump them: every
    # inner round (trim, forward coloring, backward sweep) probes the
    # persisted E-scale edge copies in place on their own key, and only
    # the partial-combined V-scale messages shuffle
    from pargraph_spark.operators.scc import strongly_connected_components

    monkeypatch.setenv("SPARK_GRAFT_PLAN_DUMP", str(tmp_path))
    res = strongly_connected_components(spark, em._di_edges(spark, SF))
    assert res.converged
    for name in ("scc_trim_round", "scc_color_round", "scc_sweep_round"):
        plan = (tmp_path / f"{name}.txt").read_text()
        scans = _tree_paths(plan, "InMemoryTableScan")
        assert scans, plan
        for up in scans:
            join = next(i for i, a in enumerate(up) if "Join" in a)
            assert not any(a.startswith("Exchange") for a in up[:join]), plan
            # the first exchange above the probe follows a partial aggregate
            ex = next(i for i, a in enumerate(up) if a.startswith("Exchange"))
            assert join < ex and up[ex - 1].startswith("HashAggregate"), plan


def test_peel_round_probes_adjacency_in_place(spark, tmp_path, monkeypatch):
    # the peel superstep kcore, score_core and densest_subgraph share, as
    # the driver dumps it: the persisted symmetric adjacency is joined on
    # u with the peeled vertices in place, and the one exchange of the
    # round moves their partial-combined decrements
    from pargraph_spark.operators.kcore import kcore

    monkeypatch.setenv("SPARK_GRAFT_PLAN_DUMP", str(tmp_path))
    kcore(spark, em._co_edges(spark, SF), 3)
    plan = (tmp_path / "kcore_round.txt").read_text()
    scans = _tree_paths(plan, "InMemoryTableScan")
    assert len(scans) == 1, plan
    up = scans[0]
    join = next(i for i, a in enumerate(up) if "Join" in a)
    assert not any(a.startswith("Exchange") for a in up[:join]), plan
    ex = next(i for i, a in enumerate(up) if a.startswith("Exchange"))
    assert join < ex and up[ex - 1].startswith("HashAggregate"), plan
    assert len(_tree_paths(plan, "Exchange")) == 1, plan


def test_katz_superstep_probes_copartitioned_edges(spark):
    e0 = em._di_edges(spark, SF).where(F.col("src") != F.col("dst")).distinct()
    e = e0.repartition(8, "src").persist()
    e.count()
    x = (
        e.select(F.col("src").alias("id")).distinct()
        .withColumn("katz", F.lit(1.0)).localCheckpoint(eager=True)
    )
    msgs = (
        e.join(x.select(F.col("id").alias("src"), "katz"), "src")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.sum("katz").alias("_s"))
    )
    plan = _plan(msgs)
    prefix = plan.split("InMemoryRelation", 1)[0]
    assert "InMemoryTableScan" in prefix, plan
    assert "Exchange hashpartitioning(src" not in prefix, plan
    assert plan.count("HashAggregate") >= 2, plan
    e.unpersist()


def test_common_neighbors_topk_is_window_group_limit(spark):
    from pargraph_spark.operators.linkpred import common_neighbors_topk

    plan = _plan(common_neighbors_topk(em._co_edges(spark, SF), k=5,
                                       hot_cap=64))
    # rn <= k must compile to WindowGroupLimit (map-side partial top-k
    # below the window shuffle), not a full sort+filter
    assert "WindowGroupLimit" in plan, plan
    # and the wedge-count aggregate partial-combines
    assert "partial_count" in plan or "partial count" in plan.lower(), plan


def test_modularity_broadcasts_edge_count(spark):
    from pargraph_spark.operators.graphstats import modularity

    e = em._co_edges(spark, SF)
    labs = e.select(F.col("src").alias("id")).distinct().withColumn(
        "label", F.col("id") % 7
    )
    plan = _plan(modularity(e, labs))
    # the 1-row m aggregate enters as a broadcast (no driver collect)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_betweenness_forward_level_probes_copartitioned_edges(spark):
    # betweenness.py scale contract: every forward/backward level joins
    # on e.src against the ONE persisted src-partitioned edge copy, so no
    # level re-exchanges the E-scale table (frontier state shuffles at
    # its own (s,v) scale — that is the declared cost).
    e = (
        em._di_edges(spark, SF)
        .where(F.col("src") != F.col("dst")).distinct()
        .repartition(8, "src").persist()
    )
    e.count()
    prev = (
        e.select(F.col("src").alias("s"), F.col("src").alias("v"),
                 F.lit(1).cast("long").alias("sigma"))
        .limit(50).repartition(8, "v").localCheckpoint(eager=True)
    )
    msg = (
        e.join(prev, e["src"] == prev["v"])
        .groupBy(prev["s"].alias("s"), e["dst"].alias("v"))
        .agg(F.sum("sigma").alias("sigma"))
    )
    plan = _plan(msg)
    prefix = plan.split("InMemoryRelation", 1)[0]
    assert "InMemoryTableScan" in prefix, plan
    assert "Exchange hashpartitioning(src" not in prefix, plan
    assert plan.count("HashAggregate") >= 2, plan
    e.unpersist()


def test_span_extraction_stays_jvm_and_partial_combines(spark):
    # spans.py: window hashing is a JVM projection (no Python eval in the
    # plan) and the corpus-frequency aggregate partial-combines map-side
    from pargraph_spark.operators.spans import repeated_spans

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(repeated_spans(docs, n=5))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan
    assert "Generate explode" in plan, plan


def test_pq_adc_topk_is_window_group_limit(spark):
    # pq.py: the per-query top-k must push below the shuffle as a
    # WindowGroupLimit (map-side cut), and scoring is Arrow-batched
    # (MapInPandas), never row-at-a-time Python
    import numpy as np

    from pargraph_spark.operators.pq import PQModel, pq_adc_topk

    codes = spark.createDataFrame(
        [(i, [i % 4, (i + 1) % 4, 0, 1]) for i in range(50)],
        "id long, codes array<int>",
    )
    queries = spark.createDataFrame(
        [(0, [0.1] * 64)], "vec_id long, embedding array<double>"
    )
    model = PQModel(np.zeros((4, 4, 16)), 4, 4, 64)
    plan = _plan(pq_adc_topk(codes, queries, model, topk=5))
    assert "WindowGroupLimit" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_temporal_relax_probes_copartitioned_edges(spark):
    # the earliest-arrival relaxation join must probe the persisted
    # src-partitioned temporal edge table in place: no Exchange over the
    # edge relation inside a round (the time guard is a post-join filter
    # on the equi-join row, not range-join machinery)
    te = (
        spark.createDataFrame(
            [(i, i + 1, 10 * i) for i in range(40)], "src long, dst long, t long"
        )
        .repartition(8, "src")
        .persist()
    )
    te.count()
    arr = spark.createDataFrame([(0, 0)], "id long, arr long").localCheckpoint(
        eager=True
    )
    relax = (
        te.join(arr.withColumnRenamed("id", "src"), "src")
        .where(F.col("t") >= F.col("arr"))
        .groupBy(F.col("dst").alias("id"))
        .agg(F.min("t").alias("arr"))
    )
    plan = _plan(relax)
    prefix = plan.split("InMemoryRelation", 1)[0]
    assert "InMemoryTableScan" in prefix, plan
    assert "Exchange hashpartitioning(src" not in prefix, plan
    # min-combine is partial (map-side) before the dst shuffle
    assert "partial_min" in plan or "partial min" in plan.lower(), plan
    te.unpersist()
