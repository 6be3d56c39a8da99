"""spark-submit entry point.

Cluster usage (north_star deployment shape):
    zip -r engine.zip pargraph_spark
    spark-submit --py-files engine.zip -m pargraph_spark.cli ... # or:
    spark-submit --py-files engine.zip cli.py pagerank \
        --pages s3://bucket/pages/ --output s3://bucket/ranks/ \
        --checkpoint-dir s3://bucket/ck/ --partitions 4096

Local smoke:
    python -m pargraph_spark.cli pagerank --synth-pages 5000 --output /tmp/out
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession

from pargraph_spark.plans.linkgraph import build_linkgraph, run_all
from pargraph_spark.session import get_spark
from pargraph_spark.synth import generate_pages_spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="pargraph_spark")
    ap.add_argument("job", choices=["pagerank", "components", "labels",
                                    "triangles", "kcore", "corenums",
                                    "truss", "trussnums", "scc", "bowtie",
                                    "katz", "communities", "betweenness",
                                    "spammass", "densest", "temporalreach",
                                    "anchors", "wlroles", "localcluster",
                                    "textrank", "effdiam", "curate",
                                    "hosts", "reach", "stats", "all"])
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--pages", help="pages table path (parquet/Iceberg)")
    src.add_argument("--synth-pages", type=int, help="generate N synthetic pages (seed 42)")
    ap.add_argument("--pages-format", default="parquet",
                    choices=["parquet", "csv", "json"],
                    help="pages source format (csv/json use the base64-html "
                         "text interchange, sources/pages.py)")
    ap.add_argument("--k", type=int, default=10,
                    help="k for the kcore job / sketch size for reach")
    ap.add_argument("--hops", type=int, default=3, help="hops for the reach job")
    ap.add_argument("--output", required=True, help="output directory (parquet)")
    ap.add_argument("--format", default="parquet")
    ap.add_argument("--checkpoint-dir")
    ap.add_argument("--partitions", type=int)
    ap.add_argument("--cores", type=int)
    ap.add_argument("--damping", type=float, default=0.85)
    ap.add_argument("--tol", type=float, default=1e-9)
    args = ap.parse_args(argv)
    if args.synth_pages is not None and args.synth_pages < 1:
        ap.error("--synth-pages must be >= 1")

    # an in-process caller (a notebook, the test suite) keeps its session:
    # stop the session only if this call starts it, else restore the conf
    # that get_spark set on it (--partitions, AQE, ...)
    active = SparkSession.getActiveSession()
    conf = active and active.conf.getAll
    spark = get_spark("pargraph-spark-cli", cores=args.cores,
                      shuffle_partitions=args.partitions)
    try:
        _run(spark, args)
    finally:
        if active is None:
            spark.stop()
        else:
            # getOrCreate records every builder option in the SQL conf,
            # ignored ones (spark.master) too, which spark.conf refuses
            jconf = spark._jsparkSession.sessionState().conf()
            for key in set(spark.conf.getAll) - set(conf):
                jconf.unsetConf(key)
            for key, value in conf.items():
                jconf.setConfString(key, value)
    return 0


def _run(spark: SparkSession, args: argparse.Namespace) -> None:
    pages = (
        generate_pages_spark(spark, args.synth_pages, seed=42)
        if args.synth_pages is not None
        else args.pages
    )
    graph = build_linkgraph(spark, pages, num_partitions=args.partitions,
                            pages_format=args.pages_format)
    graph.vertices.write.mode("overwrite").parquet(f"{args.output}/vertices.parquet")
    graph.edges.write.mode("overwrite").parquet(f"{args.output}/edges.parquet")

    summary: dict = {"job": args.job}
    results = run_all(
        spark, graph, damping=args.damping, tol=args.tol,
        checkpoint_dir=args.checkpoint_dir, num_partitions=args.partitions,
    ) if args.job == "all" else None

    if args.job in ("pagerank", "all"):
        pr = results["pagerank"] if results else None
        if pr is None:
            from pargraph_spark.operators.pagerank import pagerank

            pr = pagerank(spark, graph.edges, graph.vertices.select("id"),
                          damping=args.damping, tol=args.tol,
                          checkpoint_dir=args.checkpoint_dir,
                          num_partitions=args.partitions)
        pr.ranks.write.mode("overwrite").parquet(f"{args.output}/pagerank.parquet")
        summary["pagerank"] = pr.metrics.to_dict() | {"converged": pr.converged}
    if args.job in ("components", "all"):
        cc = results["components"] if results else None
        if cc is None:
            from pargraph_spark.operators.components import connected_components

            cc = connected_components(spark, graph.edges, graph.vertices.select("id"),
                                      num_partitions=args.partitions)
        cc.components.write.mode("overwrite").parquet(f"{args.output}/components.parquet")
        summary["components"] = {"rounds": cc.rounds, "converged": cc.converged}
    if args.job in ("labels", "all"):
        lp = results["labels"] if results else None
        if lp is None:
            from pargraph_spark.operators.labelprop import label_propagation

            lp = label_propagation(spark, graph.edges, graph.vertices.select("id"),
                                   num_partitions=args.partitions)
        lp.labels.write.mode("overwrite").parquet(f"{args.output}/labels.parquet")
        summary["labels"] = {"iterations": lp.iterations, "converged": lp.converged}
    if args.job == "kcore":
        from pargraph_spark.operators.kcore import kcore

        kc = kcore(spark, graph.edges, args.k, num_partitions=args.partitions)
        kc.vertices.write.mode("overwrite").parquet(f"{args.output}/kcore.parquet")
        summary["kcore"] = {"k": args.k, "rounds": kc.rounds,
                            "core_size": kc.vertices.count()}
    if args.job == "corenums":
        from pargraph_spark.operators.kcore import core_numbers

        cn = core_numbers(spark, graph.edges, num_partitions=args.partitions)
        cn.cores.write.mode("overwrite").parquet(f"{args.output}/core_numbers.parquet")
        summary["corenums"] = {"rounds": cn.rounds, "converged": cn.converged}
    if args.job == "truss":
        from pargraph_spark.operators.triangles import ktruss

        tr = ktruss(spark, graph.edges, max(args.k, 3),
                    num_partitions=args.partitions)
        tr.edges.write.mode("overwrite").parquet(f"{args.output}/ktruss.parquet")
        summary["truss"] = {"k": max(args.k, 3), "rounds": tr.rounds,
                            "n_edges": tr.edges.count()}
    if args.job == "trussnums":
        from pargraph_spark.operators.triangles import truss_numbers

        tn = truss_numbers(spark, graph.edges, num_partitions=args.partitions)
        tn.trussness.write.mode("overwrite").parquet(
            f"{args.output}/truss_numbers.parquet")
        summary["trussnums"] = {"rounds": tn.rounds, "converged": tn.converged}
    if args.job == "scc":
        from pargraph_spark.operators.scc import strongly_connected_components

        sc = strongly_connected_components(spark, graph.edges,
                                           graph.vertices.select("id"),
                                           num_partitions=args.partitions)
        sc.components.write.mode("overwrite").parquet(f"{args.output}/scc.parquet")
        summary["scc"] = {"outer_rounds": sc.outer_rounds,
                          "converged": sc.converged}
    if args.job == "bowtie":
        from pargraph_spark.operators.scc import bowtie_classify

        bt = bowtie_classify(spark, graph.edges,
                             num_partitions=args.partitions).persist()
        bt.write.mode("overwrite").parquet(f"{args.output}/bowtie.parquet")
        summary["bowtie"] = {
            r["region"]: r["count"]
            for r in bt.groupBy("region").count().collect()
        }
        bt.unpersist()
    if args.job == "katz":
        from pargraph_spark.operators.centrality import katz_centrality

        kz = katz_centrality(spark, graph.edges, iters=max(args.hops, 1),
                             num_partitions=args.partitions)
        kz.scores.write.mode("overwrite").parquet(f"{args.output}/katz.parquet")
        summary["katz"] = {"iterations": kz.iterations}
    if args.job == "communities":
        from pargraph_spark.operators.graphstats import modularity
        from pargraph_spark.operators.labelprop import label_propagation

        lp = label_propagation(spark, graph.edges, graph.vertices.select("id"),
                               num_partitions=args.partitions)
        lp.labels.write.mode("overwrite").parquet(f"{args.output}/labels.parquet")
        row = modularity(graph.edges, lp.labels).collect()[0]
        summary["communities"] = {"iterations": lp.iterations,
                                  "n_communities": row["n_communities"],
                                  "modularity": float(row["modularityq"])}
    if args.job == "betweenness":
        from pyspark.sql import functions as F

        from pargraph_spark.operators.betweenness import betweenness

        # 1-in-k deterministic source sample (k reuses --k; 1 = exact)
        seeds = graph.vertices.select("id").where(
            F.col("id") % max(args.k, 1) == 0)
        bc = betweenness(spark, graph.edges, sources=seeds,
                         max_depth=max(args.hops, 1),
                         num_partitions=args.partitions)
        bc.scores.write.mode("overwrite").parquet(
            f"{args.output}/betweenness.parquet")
        summary["betweenness"] = {"max_depth": bc.max_depth,
                                  "n_sources": bc.n_sources}
    if args.job == "spammass":
        from pyspark.sql import functions as F

        from pargraph_spark.operators.trust import spam_mass

        # trusted seeds: 1-in-k of the vertex dictionary (callers with a
        # curated seed list should use the operator API directly)
        seeds = graph.vertices.select("id").where(
            F.col("id") % max(args.k, 1) == 0)
        sm = spam_mass(spark, graph.edges, seeds, damping=args.damping,
                       iterations=max(args.hops, 1) * 5,
                       num_partitions=args.partitions)
        sm.scores.write.mode("overwrite").parquet(
            f"{args.output}/spam_mass.parquet")
        summary["spammass"] = {"iterations": sm.iterations}
    if args.job == "densest":
        from pargraph_spark.operators.densest import densest_subgraph

        dr = densest_subgraph(spark, graph.edges,
                              num_partitions=args.partitions)
        dr.vertices.write.mode("overwrite").parquet(
            f"{args.output}/densest_vertices.parquet")
        dr.stats.write.mode("overwrite").parquet(
            f"{args.output}/densest_stats.parquet")
        summary["densest"] = {"best_round": dr.best_round,
                              "best_density": dr.best_density,
                              "rounds": dr.rounds}
    if args.job == "anchors":
        from pargraph_spark.operators.anchors import (
            anchor_edges,
            inbound_anchor_topk,
        )
        from pargraph_spark.sources.pages import latest_pages, read_pages

        pdf = (
            read_pages(spark, pages, fmt=args.pages_format)
            if isinstance(pages, str)
            else pages
        )
        top = inbound_anchor_topk(anchor_edges(latest_pages(pdf)),
                                  k=max(args.k, 1)).persist()
        top.write.mode("overwrite").parquet(f"{args.output}/anchors.parquet")
        summary["anchors"] = {"k": max(args.k, 1), "rows": top.count()}
        top.unpersist()
    if args.job == "temporalreach":
        from pyspark.sql import functions as F

        from pargraph_spark.operators.temporal import (
            crawl_temporal_edges,
            earliest_arrival,
        )
        from pargraph_spark.sources.pages import read_pages

        pdf = (
            read_pages(spark, pages, fmt=args.pages_format)
            if isinstance(pages, str)
            else pages
        )
        te = crawl_temporal_edges(pdf).persist()
        # seeds: pages crawled in the first day of the crawl window,
        # active at their own crawl instant (curated seed lists should
        # use the operator API directly — the spammass convention)
        t0 = te.agg(F.min("t").alias("m")).collect()[0]["m"]
        seeds = (
            te.select(F.col("src").alias("id"), F.col("t").alias("arr"))
            .where(F.col("arr") <= F.lit(t0) + F.expr("INTERVAL 1 DAY"))
            .groupBy("id")
            .agg(F.min("arr").alias("arr"))
        )
        tr = earliest_arrival(spark, te, seeds,
                              max_rounds=max(args.hops, 1),
                              num_partitions=args.partitions)
        tr.arrivals.write.mode("overwrite").parquet(
            f"{args.output}/temporal_reach.parquet")
        summary["temporalreach"] = {"rounds": tr.rounds,
                                    "converged": tr.converged,
                                    "reached": tr.arrivals.count()}
        te.unpersist()
    if args.job == "wlroles":
        from pargraph_spark.operators.wl import wl_colors, wl_histogram

        wr = wl_colors(graph.edges, rounds=max(args.hops, 1),
                       num_partitions=args.partitions)
        wr.colors.write.mode("overwrite").parquet(
            f"{args.output}/wl_colors.parquet")
        wl_histogram(wr).write.mode("overwrite").parquet(
            f"{args.output}/wl_histogram.parquet")
        summary["wlroles"] = {"rounds": wr.rounds, "n_colors": wr.n_colors,
                              "converged": wr.converged}
    if args.job == "localcluster":
        from pyspark.sql import functions as F

        from pargraph_spark.operators.pagerank import pagerank as _pr
        from pargraph_spark.operators.sweepcut import sweep_cut

        # seed: the min-id vertex of maximal degree (deterministic;
        # curated seeds should use the operator API — the spammass
        # convention)
        deg = graph.edges.groupBy(F.col("src").alias("id")).agg(
            F.count("*").alias("d"))
        seed = deg.orderBy(F.col("d").desc(), F.col("id").asc()).limit(1)
        ppr = _pr(spark, graph.edges,
                  teleport=seed.select("id", F.lit(1.0).alias("w")),
                  damping=args.damping, tol=args.tol,
                  num_partitions=args.partitions)
        sc = sweep_cut(graph.edges, ppr.ranks.withColumnRenamed(
            "rank", "score"), top_n=max(args.k, 1) * 100)
        sc.members.write.mode("overwrite").parquet(
            f"{args.output}/local_cluster.parquet")
        summary["localcluster"] = {"best_k": sc.best_k,
                                   "conductance": sc.best_phi,
                                   "cut": sc.cut, "vol": sc.vol}
    if args.job == "textrank":
        from pargraph_spark.functions.text import textrank_keywords

        # graph.extracted carries the RE-EXTRACTED text (the pages
        # contract leaves the source `text` column NULL — synth.py and
        # real crawls alike; feeding raw pages here yields zero keywords)
        kw = textrank_keywords(spark, graph.extracted,
                               k=max(args.k, 1), iters=max(args.hops, 1),
                               damping=args.damping, id_col="url").persist()
        kw.write.mode("overwrite").parquet(f"{args.output}/keywords.parquet")
        summary["textrank"] = {"k": max(args.k, 1),
                               "terms": [r["term"] for r in kw.collect()]}
        kw.unpersist()
    if args.job == "curate":
        # the full LLM-curation funnel over the crawl, one job: extract →
        # exact dedup → near-dup canonical election → quality + Gopher
        # repetition filters → curated corpus + per-stage funnel counts
        from pyspark.sql import functions as F

        from pargraph_spark.functions.text import quality_score, token_count
        from pargraph_spark.operators.dedup import (
            exact_dedup,
            near_dup_groups,
        )
        from pargraph_spark.operators.repetition import repetition_filter

        docs = graph.extracted.select(
            "url", F.xxhash64("url").alias("did"), "text"
        ).persist()
        n_in = docs.count()
        keep_exact = exact_dedup(docs, "did", "text").select(
            F.col("canonical_id").alias("did")
        )
        d1 = docs.join(keep_exact, "did", "left_semi").persist()
        n_exact = d1.count()
        drop_near = (
            near_dup_groups(spark, d1, "did", "text")
            .where(F.col("doc_id") != F.col("canonical_id"))
            .select(F.col("doc_id").alias("did"))
        )
        d2 = d1.join(drop_near, "did", "left_anti")
        # persist: repetition_stats scans its input several times (lines,
        # grams, token chars, ids) plus the final semi-join — unpersisted
        # the anti-join/quality chain would re-run ~5x
        q = d2.where(quality_score(F.col("text")) >= 0.35).persist()
        keep_rep = repetition_filter(q, id_col="did", text_col="text")
        curated = (
            q.join(keep_rep.withColumnRenamed("id", "did"), "did", "left_semi")
            .select("url", "text", token_count(F.col("text")).alias("n_tokens"))
            .persist()
        )
        n_out = curated.count()
        curated.write.mode("overwrite").parquet(f"{args.output}/curated.parquet")
        summary["curate"] = {
            "pages_in": n_in,
            "after_exact_dedup": n_exact,
            "after_near_dedup_quality_repetition": n_out,
            "tokens_out": int(
                curated.agg(F.sum("n_tokens")).collect()[0][0] or 0
            ),
        }
        curated.unpersist()
        q.unpersist()
        d1.unpersist()
        docs.unpersist()
    if args.job == "effdiam":
        from pargraph_spark.operators.reach import effective_diameter

        ed = effective_diameter(spark, graph.edges,
                                max_hops=max(args.hops, 1),
                                k=max(args.k, 2),
                                num_partitions=args.partitions)
        summary["effdiam"] = {"effective_diameter": ed["effective_diameter"],
                              "saturated": ed["saturated"],
                              "nf": ed["nf"]}
    if args.job == "reach":
        from pargraph_spark.operators.reach import kmv_reach, neighborhood_function

        r = kmv_reach(spark, graph.edges, hops=args.hops,
                      k=max(args.k, 2), num_partitions=args.partitions)
        r = r.persist()
        r.write.mode("overwrite").parquet(f"{args.output}/reach.parquet")
        nf = neighborhood_function(r).collect()[0]
        summary["reach"] = {"hops": args.hops, "k": max(args.k, 2),
                            "n_vertices": nf["n_vertices"],
                            "neighborhood_function":
                                float(nf["n_reachable_pairs_est"])}
        r.unpersist()
    if args.job == "stats":
        from pargraph_spark.operators.graphstats import (
            avg_neighbor_degree_profile,
            degree_assortativity,
        )

        row = degree_assortativity(graph.edges).collect()[0]
        avg_neighbor_degree_profile(graph.edges).write.mode("overwrite").parquet(
            f"{args.output}/knn_profile.parquet")
        summary["stats"] = {"n_edges_directed": row["n_edges_directed"],
                            "assortativity": float(row["rq"])}
    if args.job == "hosts":
        from pargraph_spark.operators.edges import host_edges_ids, host_graph
        from pargraph_spark.operators.pagerank import pagerank as _pr

        hosts = host_graph(graph.extracted).persist()
        hosts.write.mode("overwrite").parquet(f"{args.output}/host_edges.parquet")
        hr = _pr(spark, host_edges_ids(hosts), weight_col="w",
                 num_partitions=args.partitions, tol=args.tol)
        hr.ranks.write.mode("overwrite").parquet(f"{args.output}/host_ranks.parquet")
        summary["hosts"] = {"n_host_pairs": hosts.count(),
                            "pagerank_iterations": hr.iterations,
                            "converged": hr.converged}
        hosts.unpersist()
    if args.job in ("triangles", "all"):
        tc = results["triangles"] if results else None
        if tc is None:
            from pargraph_spark.operators.triangles import triangle_count

            tc = triangle_count(spark, graph.edges)
        tc.per_vertex.write.mode("overwrite").parquet(f"{args.output}/triangles.parquet")
        summary["triangles"] = {"total": tc.total}

    # durable job-spec artifact next to the outputs (the analogue of the
    # reference persisting its task graph: enough to audit or re-run)
    from pargraph_spark.plans.jobspec import JobSpec

    JobSpec(
        job=args.job,
        operator="linkgraph." + args.job,
        params={"damping": args.damping, "tol": args.tol,
                "partitions": args.partitions},
        inputs={"pages": args.pages or f"synth:{args.synth_pages}:seed=42"},
        outputs={"dir": args.output, "summary": summary},
    ).save(f"{args.output}/jobspec.json")

    print(json.dumps(summary))


if __name__ == "__main__":
    sys.exit(main())
