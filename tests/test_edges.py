from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pargraph_spark.functions.extract import extract_text_and_links
from pargraph_spark.functions.urlnorm import normalize_url
from pargraph_spark.operators.edges import (
    adjacency,
    assert_no_id_collisions,
    build_edges,
    build_vertices,
    canonical_undirected,
    in_degrees,
    out_degrees,
    symmetrize,
)
from pargraph_spark.operators.extract_links import extract_links
from pargraph_spark.sources.pages import latest_pages
from pargraph_spark.synth import generate_pages_rows, pages_df_local

N = 400


def _oracle_pages(n=N, seed=42):
    """Driver-side oracle: latest crawl per url -> extracted text + links."""
    latest: dict[str, tuple] = {}
    for r in generate_pages_rows(n, seed):
        cur = latest.get(r["url"])
        if cur is None or r["warc_ts"] > cur[0]:
            latest[r["url"]] = (r["warc_ts"], r["html"])
    out = {}
    for url, (_, html) in latest.items():
        text, raw = extract_text_and_links(html)
        links = [u for u in (normalize_url(h, url) for h in raw) if u is not None]
        out[url] = (text, links)
    return out


def test_latest_pages_dedupe(spark):
    pages = pages_df_local(spark, N)
    lp = latest_pages(pages)
    assert lp.count() == N
    # the kept row must be the max-warc_ts one
    expected = _oracle_pages()
    got = {r["url"]: r["warc_ts"] for r in lp.select("url", "warc_ts").collect()}
    oracle_ts = {}
    for r in generate_pages_rows(N, 42):
        if r["url"] not in oracle_ts or r["warc_ts"] > oracle_ts[r["url"]]:
            oracle_ts[r["url"]] = r["warc_ts"]
    assert got == oracle_ts
    assert set(got) == set(expected)


def test_extracted_text_byte_identical(spark):
    """BASELINE.json input_hint invariant: Spark-extracted text per url is
    byte-identical to the shared pure-Python extractor."""
    pages = pages_df_local(spark, N)
    ext = extract_links(latest_pages(pages))
    oracle = _oracle_pages()
    for row in ext.collect():
        otext, olinks = oracle[row["url"]]
        assert row["text"] == otext, row["url"]
        assert list(row["links"]) == olinks, row["url"]


def test_edge_table_matches_oracle(spark):
    pages = pages_df_local(spark, N)
    ext = extract_links(latest_pages(pages)).cache()
    edges = build_edges(ext, num_partitions=8)
    vertices = build_vertices(ext)
    assert_no_id_collisions(vertices)

    oracle = _oracle_pages()
    url_ids = {
        r["url"]: r["id"] for r in vertices.collect()
    }
    oracle_edges = set()
    for url, (_, links) in oracle.items():
        for dst in links:
            if dst != url:
                oracle_edges.add((url_ids[url], url_ids[dst]))
    got = {(r["src"], r["dst"]) for r in edges.collect()}
    assert got == oracle_edges
    # dangling targets (never-crawled urls) must be vertices
    crawled = {url_ids[u] for u in oracle}
    targets = {d for _, d in oracle_edges}
    assert targets - crawled, "fixture should contain dangling targets"
    assert set(url_ids.values()) >= targets


def test_degrees_and_views(spark):
    pages = pages_df_local(spark, 150)
    ext = extract_links(latest_pages(pages))
    edges = build_edges(ext).cache()
    e = {(r["src"], r["dst"]) for r in edges.collect()}
    od = {r["id"]: r["outdeg"] for r in out_degrees(edges).collect()}
    id_ = {r["id"]: r["indeg"] for r in in_degrees(edges).collect()}
    from collections import Counter

    assert od == Counter(s for s, _ in e)
    assert id_ == Counter(d for _, d in e)
    sym = {(r["u"], r["v"]) for r in symmetrize(edges).collect()}
    assert sym == {(a, b) for a, b in e} | {(b, a) for a, b in e}
    und = {(r["a"], r["b"]) for r in canonical_undirected(edges).collect()}
    assert und == {(min(a, b), max(a, b)) for a, b in e}


# self-loops, parallel edges with different weights, and an edge given
# in both directions
WEDGES = [(1, 2, 3), (1, 2, 5), (2, 1, 4), (2, 2, 7), (2, 3, 1), (3, 4, 2),
          (3, 4, 6), (4, 4, 9), (5, 1, 8)]


def _adjacency_oracle(rows, symmetric, weight):
    ws: dict[tuple[int, int], list[int]] = {}
    for s, d, w in rows:
        if s != d:
            for uv in ((s, d), (d, s)) if symmetric else ((s, d),):
                ws.setdefault(uv, []).append(w)
    if weight is None:
        return set(ws)
    fold = {"sum": sum, "min": min, "max": max}[weight]
    return {(u, v, fold(x)) for (u, v), x in ws.items()}


@pytest.mark.parametrize("weight", [None, "sum", "min", "max"])
@pytest.mark.parametrize("symmetric", [False, True], ids=["directed", "symmetric"])
def test_adjacency_matches_python(spark, symmetric, weight):
    edges = spark.createDataFrame(WEDGES, "src long, dst long, w long")
    if weight is None:
        edges = edges.select("src", "dst")
    adj, n = adjacency(edges, 4, symmetric=symmetric, weight=weight)
    rows = [tuple(r) for r in adj.collect()]
    adj.unpersist()
    assert adj.columns == ["u", "v"] + (["w"] if weight else [])
    assert len(rows) == n == len(set(rows))
    assert set(rows) == _adjacency_oracle(WEDGES, symmetric, weight)


def _o1_to_o4(pages):
    edges = build_edges(extract_links(latest_pages(pages)))
    return {(r["src"], r["dst"]) for r in edges.collect()}


def test_csv_json_sources_byte_identical_through_o1_o4(spark, tmp_path):
    # csv + json page drops through the full O1→O4 path.
    # The text interchange (html base64, warc_ts ISO) must round-trip html
    # BYTE-identically, and produce the same edge table as the in-memory
    # parquet-typed frames.
    import pytest

    from pargraph_spark.sources.pages import read_pages, write_pages_text

    orig = pages_df_local(spark, 150)
    want_html = {
        (r["url"], str(r["warc_ts"])): bytes(r["html"]) for r in orig.collect()
    }
    want_edges = _o1_to_o4(orig)
    assert want_edges  # non-degenerate fixture

    for fmt in ("csv", "json"):
        path = str(tmp_path / fmt)
        write_pages_text(orig, path, fmt)
        back = read_pages(spark, path, fmt=fmt)
        assert back.schema.simpleString() == orig.schema.simpleString(), fmt
        got_html = {
            (r["url"], str(r["warc_ts"])): bytes(r["html"]) if r["html"] is not None else None
            for r in back.collect()
        }
        assert got_html == want_html, fmt  # byte-identical payloads
        assert _o1_to_o4(back) == want_edges, fmt

    with pytest.raises(ValueError, match="csv/json"):
        write_pages_text(orig, str(tmp_path / "x"), "xml")


def test_host_graph_rollup_matches_python(spark):
    from urllib.parse import urlparse

    from pargraph_spark.operators.edges import edge_urls, host_edges_ids, host_graph
    from pargraph_spark.operators.pagerank import pagerank

    pages = pages_df_local(spark, 200)
    ext = extract_links(latest_pages(pages))
    got = {
        (r["src_host"], r["dst_host"]): r["w"]
        for r in host_graph(ext).collect()
    }

    # python mirror over the same page-level distinct links
    page_links = {
        (r["src_url"], r["dst_url"]) for r in edge_urls(ext).collect()
    }
    want: dict[tuple[str, str], int] = {}
    for s, d in page_links:
        hs, hd = urlparse(s).hostname, urlparse(d).hostname
        if hs and hd:
            want[(hs, hd)] = want.get((hs, hd), 0) + 1
    assert got == want
    assert any(a == b for a, b in got)      # intra-host mass kept
    assert any(a != b for a, b in got)      # inter-host links exist

    # the rollup feeds weighted pagerank directly
    he = host_edges_ids(host_graph(ext))
    res = pagerank(spark, he, weight_col="w", num_partitions=4, max_iter=10, tol=0.0)
    assert res.ranks.count() == len({h for pair in want for h in pair})


def test_host_reach_hll_within_tolerance(spark):
    # approximate tier: per-host HLL reach within tolerance of the truth.
    # rsd is a standard deviation, not a bound — gate at 4x rsd per host
    # (≈4σ; cardinalities span HLL++'s sparse/exact and dense regimes)
    from pargraph_spark.operators.edges import host_reach

    truth = {"a.com": 3, "b.com": 50, "c.com": 700, "d.com": 4000}
    rows = []
    for h, n in truth.items():
        for i in range(n):
            rows.append((h, f"t{i}.example"))
            if i % 3 == 0:  # duplicates must not inflate reach
                rows.append((h, f"t{i}.example"))
    pairs = spark.createDataFrame(rows, "src_host string, dst_host string")
    rsd = 0.05
    approx = {r["src_host"]: r["reach"]
              for r in host_reach(pairs, rsd=rsd).collect()}
    assert set(approx) == set(truth)
    for h, n in truth.items():
        assert abs(approx[h] - n) <= max(1, 4 * rsd * n), (h, approx[h], n)

    exact = {r["src_host"]: r["reach"]
             for r in host_reach(pairs, exact=True).collect()}
    assert exact == truth


def test_host_reach_from_pages_pipeline(spark):
    # end-to-end over synthetic pages: approx tier keys match the exact
    # tier's keys and sparse-regime counts are exact
    from pargraph_spark.operators.edges import host_pairs, host_reach
    from pargraph_spark.operators.extract_links import extract_links
    from pargraph_spark.synth import pages_df_local

    pairs = host_pairs(extract_links(pages_df_local(spark, 120))).persist()
    approx = {r["src_host"]: r["reach"] for r in host_reach(pairs).collect()}
    exact = {r["src_host"]: r["reach"]
             for r in host_reach(pairs, exact=True).collect()}
    pairs.unpersist()
    assert approx.keys() == exact.keys() and exact
    for h, n in exact.items():
        assert abs(approx[h] - n) <= max(1, 0.2 * n), (h, approx[h], n)


def test_bipartite_project_exact_and_capped(spark):
    from pargraph_spark.operators.edges import bipartite_project

    # users x pages: page 100 is shared by all three users (the hub)
    rows = [
        (1, 100), (2, 100), (3, 100),
        (1, 200), (2, 200),
        (2, 300), (3, 300),
        (1, 400), (1, 400),  # duplicate collapses
    ]
    e = spark.createDataFrame(rows, "l long, r long")
    full = {
        (r["src"], r["dst"]): r["w"]
        for r in bipartite_project(e).collect()
    }
    # brute force
    from collections import Counter
    by_r = {}
    for l, r in set(rows):
        by_r.setdefault(r, set()).add(l)
    brute = Counter()
    for mem in by_r.values():
        for a in mem:
            for b in mem:
                if a < b:
                    brute[(a, b)] += 1
    assert full == dict(brute)
    # cap at 2 removes page 100's pairs only
    capped = {
        (r["src"], r["dst"]): r["w"]
        for r in bipartite_project(e, hot_cap=2).collect()
    }
    brute2 = Counter()
    for r, mem in by_r.items():
        if len(mem) <= 2:
            for a in mem:
                for b in mem:
                    if a < b:
                        brute2[(a, b)] += 1
    assert capped == dict(brute2)


def test_read_pages_table_catalog_path(spark):
    # the catalog-table access path (Iceberg's canonical entry): same
    # rows/schema as the in-memory frame, byte-identical html; latest-
    # crawl dedupe composes unchanged
    import pytest

    from pargraph_spark.sources.pages import latest_pages, read_pages_table

    orig = pages_df_local(spark, 80)
    orig.createOrReplaceTempView("pages_tbl_t")
    try:
        back = read_pages_table(spark, "pages_tbl_t")
        assert back.schema.simpleString() == orig.schema.simpleString()
        want = {
            (r["url"], str(r["warc_ts"])): bytes(r["html"])
            for r in orig.collect()
        }
        got = {
            (r["url"], str(r["warc_ts"])): bytes(r["html"])
            for r in back.collect()
        }
        assert got == want
        assert (
            latest_pages(back).count() == latest_pages(orig).count()
        )
        with pytest.raises(ValueError, match="not both"):
            read_pages_table(
                spark, "pages_tbl_t", snapshot_id=1, as_of_ts_ms=2
            )
    finally:
        spark.catalog.dropTempView("pages_tbl_t")


def test_crawl_diff_statuses(spark):
    import datetime

    from pargraph_spark.sources.pages import crawl_diff, crawl_diff_summary

    t1 = datetime.datetime(2026, 1, 1)
    t2 = datetime.datetime(2026, 2, 1)
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    old = spark.createDataFrame(
        [
            ("u/keep", t1, b"<p>same</p>", None, "en"),
            ("u/edit", t1, b"<p>v1</p>", None, "en"),
            ("u/gone", t1, b"<p>bye</p>", None, "en"),
            ("u/nullhtml", t1, None, None, "en"),
        ],
        schema,
    )
    new = spark.createDataFrame(
        [
            ("u/keep", t2, b"<p>same</p>", None, "en"),
            ("u/edit", t2, b"<p>v2</p>", None, "en"),
            ("u/new", t2, b"<p>hi</p>", None, "en"),
            ("u/nullhtml", t2, None, None, "en"),
        ],
        schema,
    )
    got = {r["url"]: r["status"] for r in crawl_diff(old, new).collect()}
    assert got == {
        "u/keep": "unchanged",
        "u/edit": "changed",
        "u/gone": "removed",
        "u/new": "added",
        # NULL html on both sides: present, byte-equal by convention
        "u/nullhtml": "unchanged",
    }
    summ = {r["status"]: r["n"] for r in crawl_diff_summary(crawl_diff(old, new)).collect()}
    assert summ == {"unchanged": 2, "changed": 1, "removed": 1, "added": 1}
