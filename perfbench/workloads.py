"""The benchmark's workloads, each a closed loop of timed units.

A unit is one cold pass of the crawl pipeline or one round of the
near-duplicate operators. Each unit calls
the engine's public functions through ``Harness.call``, which times the
call (and, in a traced run, tags its Spark jobs) and materializes its
result. Checks run after the unit, outside its timing.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
from statistics import median

import numpy as np
from pyspark.sql import functions as F

import expected
import inputs
from eventlog import Span
from pargraph_spark.operators.components import connected_components
from pargraph_spark.operators.dedup import minhash_dedup_pairs
from pargraph_spark.operators.edges import (
    assert_no_id_collisions,
    build_edges,
    build_vertices,
)
from pargraph_spark.operators.extract_links import extract_links
from pargraph_spark.operators.labelprop import label_propagation
from pargraph_spark.operators.pagerank import pagerank
from pargraph_spark.operators.similarity import (
    cosine_near_dup_bucketed,
    cosine_topk,
    lsh_ann_topk,
)
from pargraph_spark.operators.triangles import triangle_count
from pargraph_spark.plans.linkgraph import LinkGraph, build_linkgraph
from pargraph_spark.sources.edgestore import read_bucketed_edges, write_bucketed_edges
from pargraph_spark.sources.pages import latest_pages, read_pages
from tests import oracles

# run_all's PageRank arguments, with the supersteps capped below the 16-20
# these graphs need to reach tol, so every seed runs the same fixpoint work
DAMPING = 0.85
TOL = 1e-9
PR_MAX_ITER = 15
# bench.py's LPA cap; synchronous LPA on these graphs runs past it
LPA_MAX_ITER = 5
RANK_ATOL = 1e-8
STORE_TABLE = "perfbench_edges"


class Harness:
    """One Spark session plus the spans of the calls made through it."""

    def __init__(self, spark, scratch: str) -> None:
        self.spark = spark
        self.scratch = scratch
        self.traced = False
        self.P = int(spark.conf.get("spark.sql.shuffle.partitions"))
        self.spans: list[Span] = []
        self.unit = 0

    def call(self, layer: str, name: str, fn):
        """Run ``fn`` as one public call of ``layer``; its Spark jobs carry
        the job group ``layer:name:unit`` when tracing."""
        sc = self.spark.sparkContext
        sp = Span(layer, name, self.unit, time.time(), 0.0)
        if self.traced:
            sc.setJobGroup(sp.group, name)
        try:
            return fn()
        finally:
            sp.t1 = time.time()
            self.spans.append(sp)
            if self.traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def wall(self, name: str) -> list[float]:
        return [sp.t1 - sp.t0 for sp in self.spans if sp.call == name]


def _fail(failed: list[str], call: str, ok: bool, what: str) -> None:
    if not ok:
        failed.append(call)
        print(f"check failed: {call}: {what}", file=sys.stderr)


def _pairs(df) -> list[tuple[int, int]]:
    pdf = df.select("src", "dst").toPandas()
    return list(zip(pdf["src"].tolist(), pdf["dst"].tolist()))


def _as_dict(df, key: str, val: str) -> dict:
    pdf = df.select(key, val).toPandas()
    return dict(zip(pdf[key].tolist(), pdf[val].tolist()))


def _ranks_ok(got: dict, want: dict) -> bool:
    if got.keys() != want.keys():
        return False
    ids = list(want)
    return bool(np.allclose([got[i] for i in ids], [want[i] for i in ids],
                            rtol=0.0, atol=RANK_ATOL))


def _last_manifest(ckpt: str) -> dict | None:
    """The newest committed PageRank checkpoint manifest under ``ckpt``."""
    d = os.path.join(ckpt, "pagerank")
    names = sorted(f for f in os.listdir(d) if f.startswith("manifest_")) if os.path.isdir(d) else []
    if not names:
        return None
    with open(os.path.join(d, names[-1])) as f:
        return json.load(f)


def _pagerank_eps(out: dict) -> float:
    """E x supersteps / wall of the pagerank call: BASELINE's edges/s."""
    pr = out["pr"]
    n_edges = pr.metrics.supersteps[0].edges if pr.metrics.supersteps else 0
    return n_edges * pr.iterations / out["pr_wall"]


class CrawlPipeline:
    """Cold crawl → link graph → edge store → PageRank (checkpointed), CC,
    LPA, triangles: the paper's path with ``run_all``'s arguments, plus the
    edge-store round trip and PageRank checkpoints a production run keeps."""

    name = "crawl_pipeline"
    n_pages = 3000
    warm_pages = 300
    min_units = 1

    def prepare(self, scratch: str, seed: int) -> dict:
        self.seed = seed
        self.warm_path = os.path.join(scratch, "warm_pages.parquet")
        inputs.write_pages(self.warm_path, 0, self.warm_pages, self.warm_pages, seed)
        self.pages_path = os.path.join(scratch, "pages.parquet")
        rows = inputs.write_pages(self.pages_path, 0, self.n_pages, self.n_pages, seed)
        self.want = None
        self.iters = {}
        self.sizes = {"pages": self.n_pages, "page_rows": rows}
        return self.sizes

    def start(self, h: Harness) -> None:
        # untimed warm-up: every call of a pass on a small crawl, with the
        # fixpoints capped, so each plan is compiled and the Python workers
        # are up before the first timed pass
        self._pass(h, self.warm_path, pr_iter=2, cc_rounds=2, lpa_iter=2)
        h.spark.catalog.clearCache()

    def unit(self, h: Harness) -> dict:
        return self._pass(h, self.pages_path)

    def _linkgraph(self, h: Harness, path: str) -> LinkGraph:
        spark, P = h.spark, h.P
        if not h.traced:
            def build():
                g = build_linkgraph(spark, path)
                g.edges.count()
                return g
            return h.call("linkgraph", "build_linkgraph", build)

        # traced: build_linkgraph's own steps, one call at a time, so
        # extraction and the edge build get separate spans
        def extract():
            ex = extract_links(latest_pages(read_pages(spark, path))).persist()
            ex.count()
            return ex

        ex = h.call("extract", "extract_links", extract)

        def edges():
            e = build_edges(ex, num_partitions=P).persist()
            e.count()
            return e

        e = h.call("edges", "build_edges", edges)

        def vertices():
            v = build_vertices(ex).persist()
            assert_no_id_collisions(v)
            return v

        v = h.call("edges", "build_vertices", vertices)
        return LinkGraph(v, e, ex)

    def _pass(self, h: Harness, path: str, **caps) -> dict:
        spark, P = h.spark, h.P
        g = self._linkgraph(h, path)
        store = os.path.join(h.scratch, "store")
        h.call("sources", "write_bucketed_edges",
               lambda: write_bucketed_edges(g.edges, STORE_TABLE, P, path=store))
        n_store = h.call("sources", "read_bucketed_edges",
                         lambda: read_bucketed_edges(spark, STORE_TABLE, dedupe=True).count())
        ckpt = os.path.join(h.scratch, f"ckpt_u{h.unit}")
        out = self._fixpoints(h, g.edges, g.vertices.select("id"), ckpt, **caps)
        out.update(graph=g, n_store=n_store, ckpt=ckpt)
        return out

    def _fixpoints(self, h: Harness, edges, ids, ckpt: str, pr_iter=PR_MAX_ITER, cc_rounds=50,
                   lpa_iter=LPA_MAX_ITER) -> dict:
        spark = h.spark

        def pr():
            r = pagerank(spark, edges, ids, damping=DAMPING, tol=TOL, max_iter=pr_iter,
                         checkpoint_dir=ckpt)
            r.ranks.count()
            return r

        def cc():
            r = connected_components(spark, edges, ids, max_rounds=cc_rounds)
            r.components.count()
            return r

        def lp():
            r = label_propagation(spark, edges, ids, max_iter=lpa_iter)
            r.labels.count()
            return r

        out = {"pr": h.call("pagerank", "pagerank", pr)}
        out["pr_wall"] = h.wall("pagerank")[-1]
        out["cc"] = h.call("components", "connected_components", cc)
        out["lp"] = h.call("labelprop", "label_propagation", lp)
        out["tc"] = h.call("triangles", "triangle_count", lambda: triangle_count(spark, edges))
        return out

    def check(self, h: Harness, out: dict) -> list[str]:
        failed: list[str] = []
        g = out["graph"]
        url_of = _as_dict(g.vertices, "id", "url")
        edges = _pairs(g.edges)
        if self.want is None:
            self.want = self._expected(url_of, edges)
        want = self.want
        got_links = {(url_of.get(s), url_of.get(d)) for s, d in edges}
        _fail(failed, "build_linkgraph",
              set(url_of.values()) == want["urls"] and len(url_of) == len(want["urls"])
              and got_links == want["links"] and len(edges) == len(want["links"]),
              "vertices or edges differ from the pages' extracted links")

        _fail(failed, "read_bucketed_edges",
              out["n_store"] == len(edges)
              and set(_pairs(read_bucketed_edges(h.spark, STORE_TABLE))) == set(edges),
              "the edge store does not hold the built edges")

        pr, cc, lp, tc = out["pr"], out["cc"], out["lp"], out["tc"]
        _fail(failed, "pagerank", _ranks_ok(_as_dict(pr.ranks, "id", "rank"), want["ranks"]),
              "ranks differ from the oracle")
        last = _last_manifest(out["ckpt"])
        _fail(failed, "pagerank",
              last is not None and last["superstep"] == pr.iterations,
              f"last checkpoint manifest {last} is not the final superstep")
        _fail(failed, "connected_components",
              _as_dict(cc.components, "id", "component") == want["components"],
              "components differ from the oracle")
        _fail(failed, "label_propagation",
              _as_dict(lp.labels, "id", "label") == want["labels"],
              "labels differ from the oracle")
        _fail(failed, "triangle_count",
              tc.total == want["triangles"]
              and _as_dict(tc.per_vertex, "id", "tri") == want["per_vertex"],
              "triangle counts differ from the oracle")
        # iteration counts repeat exactly across passes of one seed
        counts = {"pagerank": pr.iterations, "connected_components": cc.rounds,
                  "label_propagation": lp.iterations}
        for call, n in counts.items():
            _fail(failed, call, self.iters.setdefault(call, n) == n,
                  f"iteration count {n} differs from the first pass")
        self.sizes.update(vertices=len(url_of), edges=len(edges))
        h.spark.catalog.clearCache()  # the next pass runs cold
        return failed

    def _expected(self, url_of: dict, edges: list) -> dict:
        urls, links = expected.url_graph(self.pages_path)
        vertices = sorted(url_of)
        tri, per_vertex = oracles.triangles_oracle(edges)
        return {
            "urls": urls, "links": links,
            "ranks": oracles.pagerank_oracle(edges, vertices, damping=DAMPING, tol=TOL,
                                             max_iter=PR_MAX_ITER),
            "components": oracles.components_oracle(edges, vertices),
            "labels": oracles.label_propagation_oracle(edges, vertices, max_iter=LPA_MAX_ITER),
            "triangles": tri, "per_vertex": per_vertex,
        }

    def metrics(self, h: Harness, outs: list[dict]) -> dict:
        return {
            "edges_per_s": median(_pagerank_eps(o) for o in outs),
            "pr_iterations": median(o["pr"].iterations for o in outs),
        }


class NearDup:
    """MinHash dedup and the three vector-similarity operators, repeated
    over one corpus with seeded query sets."""

    name = "near_dup"
    n_queries = 20
    min_units = 2

    def prepare(self, scratch: str, seed: int) -> dict:
        self.seed = seed
        self.corpus = inputs.make_corpus(seed)
        self.docs_path = os.path.join(scratch, "documents.parquet")
        self.vecs_path = os.path.join(scratch, "embeddings.parquet")
        inputs.write_corpus(self.corpus, self.docs_path, self.vecs_path)
        self.want_pairs = None
        self.vectors = None
        self.recall: list[float] = []
        self.sizes = {"documents": len(self.corpus["texts"]),
                      "vectors": len(self.corpus["vectors"]),
                      "planted": inputs.N_PLANTED, "queries": self.n_queries}
        return self.sizes

    def start(self, h: Harness) -> None:
        self.docs = h.spark.read.parquet(self.docs_path)
        self.emb = h.spark.read.parquet(self.vecs_path).persist()
        self.emb.count()
        self.round = 0
        self.check(h, self.unit(h))  # untimed warm-up round
        self.recall.clear()

    def _queries(self, r: int) -> list[int]:
        rng = random.Random(self.seed * 1_000_003 + r)
        originals = [a for a, _ in self.corpus["planted_vecs"]]
        others = sorted(set(range(inputs.N_VECS)) - set(originals))
        half = self.n_queries // 2
        return sorted(rng.sample(originals, half) + rng.sample(others, self.n_queries - half))

    def unit(self, h: Harness) -> dict:
        self.round += 1
        q_ids = self._queries(self.round)
        emb = self.emb
        queries = emb.where(F.col("vec_id").isin(q_ids))
        out = {"queries": q_ids}
        out["minhash"] = h.call("dedup", "minhash_dedup_pairs", lambda: minhash_dedup_pairs(
            self.docs, "doc_id", "text", shingle_size=2, threshold=0.5).collect())
        out["topk"] = h.call("similarity", "cosine_topk", lambda: cosine_topk(
            emb, queries, k=10).collect())
        out["ann"] = h.call("similarity", "lsh_ann_topk", lambda: lsh_ann_topk(
            emb, queries, k=10, dim=inputs.DIM, num_tables=8, planes_per_table=6,
            multiprobe_bits=1).collect())
        out["near_dup"] = h.call("similarity", "cosine_near_dup_bucketed",
                                 lambda: cosine_near_dup_bucketed(
                                     emb, threshold=0.9, dim=inputs.DIM, num_tables=8,
                                     planes_per_table=8).collect())
        return out

    def check(self, h: Harness, out: dict) -> list[str]:
        failed: list[str] = []
        if self.want_pairs is None:
            self.want_pairs = expected.minhash_pairs(self.corpus["texts"], 2, 8, 4, 0.5)
            self.vectors = expected.Vectors(self.corpus["vectors"])
        vec = self.vectors
        got = {(r["a"], r["b"]): r["jaccard"] for r in out["minhash"]}
        _fail(failed, "minhash_dedup_pairs",
              got.keys() == self.want_pairs.keys()
              and all(abs(got[p] - j) < 1e-12 for p, j in self.want_pairs.items()),
              f"{len(got)} pairs, expected {len(self.want_pairs)}")

        def ranked(rows) -> dict[int, list[int]]:
            by_q: dict[int, list] = {}
            for r in sorted(rows, key=lambda r: (r["query_id"], -r["cos"], r["neighbor_id"])):
                by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
            return by_q

        def cos_ok(rows, a: str, b: str) -> bool:
            return all(abs(r["cos"] - vec.cos(r[a], r[b])) < 1e-9 for r in rows)

        top = ranked(out["topk"])
        _fail(failed, "cosine_topk",
              top == {q: vec.topk(q, 10) for q in out["queries"]}
              and cos_ok(out["topk"], "query_id", "neighbor_id"),
              "top-k differs from brute force")
        copy_of = dict(self.corpus["planted_vecs"])
        ann = ranked(out["ann"])
        _fail(failed, "lsh_ann_topk",
              all(ann.get(q, [None])[0] == copy_of[q] for q in out["queries"] if q in copy_of)
              and cos_ok(out["ann"], "query_id", "neighbor_id"),
              "a planted copy is not its original's nearest neighbour")
        planted = set(self.corpus["planted_vecs"])
        found = {(r["a"], r["b"]) for r in out["near_dup"]}
        self.recall.append(len(found & planted) / len(planted))
        _fail(failed, "cosine_near_dup_bucketed",
              found == planted and cos_ok(out["near_dup"], "a", "b"),
              f"{len(found & planted)}/{len(planted)} planted pairs, {len(found)} found")
        return failed

    def metrics(self, h: Harness, outs: list[dict]) -> dict:
        return {
            "minhash_dedup_s": median(h.wall("minhash_dedup_pairs")),
            "cosine_topk_s": median(h.wall("cosine_topk")),
            "ann_lsh_s": median(h.wall("lsh_ann_topk")),
            "near_dup_bucketed_s": median(h.wall("cosine_near_dup_bucketed")),
            "similarity.planted_recall": min(self.recall),
        }


WORKLOADS = {w.name: w for w in (CrawlPipeline, NearDup)}
