"""Deterministic seeded generator for Common-Crawl-style ``pages`` fixtures.

Schema (BASELINE.json input_hint / FIXTURES.md F1):
    pages(url: string, warc_ts: timestamp, html: binary, text: string,
          lang: string)

Every row is derived from ``(seed, page_index)`` alone — NOT from a shared
sequential RNG — so generation is embarrassingly parallel: the same rows come
out of the driver-side oracle path (``generate_pages_rows``) and the
distributed Spark path (``generate_pages_spark`` via mapInPandas), in any
partitioning. This mirrors the reference's insistence on reproducible graph
identity (stabilize(), /root/reference/pargraph/graph/objects.py:653-708) but
applied to data instead of task keys.

Graph shape knobs (FIXTURES.md F1): out-degree ~ min(Poisson(8), 40); targets
Zipf(a=1.3) over the url universe (hub skew); ~1% links to never-crawled urls
(dangling targets); ~5% pages with zero outlinks (dangling mass); ~20%
relative hrefs (resolution test); ~10% in-page duplicate links; ~2% of pages
get a second, later crawl row (latest-crawl dedupe test).
"""

from __future__ import annotations

import math
import random
from datetime import datetime, timedelta
from typing import Iterator

_EPOCH = datetime(2025, 1, 1)

_VOCAB = (
    "the quick crawl web page link graph rank spark data table scan shuffle "
    "partition vertex edge hub node text html anchor site index query join "
    "merge sort hash block batch stream delta score walk mass damp tele "
    "port loop star chain ring clique zipf skew salt"
).split()

_LANGS = ("en", "de", "fr", "")


def url_for(t: int, num_sites: int) -> str:
    s = t % num_sites
    k = t // num_sites
    return f"http://site{s}.example/p/{k}"


def _poisson(rng: random.Random, lam: float) -> int:
    # Knuth's multiplicative method — exact, deterministic, fine for lam=8.
    limit = math.exp(-lam)
    k, p = 0, 1.0
    while True:
        p *= rng.random()
        if p <= limit:
            return k
        k += 1


def _zipf(rng: random.Random, a: float, n: int) -> int:
    """Zipf(a) on {1..n} by rejection (Devroye, Non-Uniform Random Variate
    Generation 1986, ch. X.6) — O(1) expected, no O(n) CDF table."""
    b = 2.0 ** (a - 1.0)
    while True:
        # clamp: u == 0.0 (p = 2^-53/draw) raises on the negative power
        # and u < ~1e-93 overflows to inf; the clamp changes no draw a
        # real stream produces, so existing fixtures are bit-identical
        u = max(rng.random(), 1e-12)
        v = rng.random()
        x = int(u ** (-1.0 / (a - 1.0)))
        if x < 1 or x > n:
            continue
        t = (1.0 + 1.0 / x) ** (a - 1.0)
        if v * x * (t - 1.0) / (b - 1.0) <= t / b:
            return x

def _page_html(i: int, url: str, num_sites: int, rng: random.Random,
               n_pages: int, extra_para: bool = False) -> bytes:
    s = i % num_sites
    words = [_VOCAB[rng.randrange(len(_VOCAB))] for _ in range(rng.randrange(20, 60))]
    links: list[str] = []
    if rng.random() >= 0.05:  # ~5% zero-outlink pages (dangling mass)
        degree = min(_poisson(rng, 8.0), 40)
        for _ in range(degree):
            r = rng.random()
            if r < 0.01:
                # dangling target: a url outside the crawled universe
                t = n_pages + rng.randrange(max(1, n_pages))
                href = url_for(t, num_sites)
            elif r < 0.21:
                # relative href on the same site (resolution test) —
                # bounded to pages that EXIST on this page's site, so the
                # resolution-test category never silently leaks into
                # dangling links when num_sites does not divide n_pages
                s = i % num_sites
                k_max = (n_pages - 1 - s) // num_sites
                k2 = rng.randrange(max(1, k_max + 1))
                href = f"/p/{k2}" if rng.random() < 0.5 else f"../p/{k2}"
            else:
                t = _zipf(rng, 1.3, n_pages) - 1  # hub skew toward low ids
                href = url_for(t, num_sites)
            links.append(href)
            if rng.random() < 0.10:  # in-page duplicate link
                links.append(href)
    parts = [f"<html><head><title>T{i}</title>",
             "<script>var x = 'never text';</script></head><body>"]
    parts.append(f"<p>{' '.join(words)}</p>")
    for j, href in enumerate(links):
        anchor = _VOCAB[(i + j) % len(_VOCAB)]
        parts.append(f'<a href="{href}">{anchor}</a>')
    if extra_para:
        parts.append("<p>recrawl delta content</p>")
    parts.append("</body></html>")
    return "".join(parts).encode("utf-8")


def generate_pages_rows(n_pages: int, seed: int = 42) -> Iterator[dict]:
    """Yield page rows for indices [0, n_pages); 1-2 rows per index."""
    for i in range(n_pages):
        yield from page_rows_for_index(i, n_pages, seed)


def page_rows_for_index(i: int, n_pages: int, seed: int = 42) -> Iterator[dict]:
    num_sites = max(1, n_pages // 50)
    rng = random.Random(1_000_003 * seed + i)
    url = url_for(i, num_sites)
    ts = _EPOCH + timedelta(seconds=i * 7 + rng.randrange(0, 5))
    r = rng.random()
    lang = "en" if r < 0.90 else _LANGS[1 + int((r - 0.90) * 30) % 3]
    html = _page_html(i, url, num_sites, rng, n_pages)
    # `text` is intentionally NULL: the engine must re-extract from html.
    yield {"url": url, "warc_ts": ts, "html": html, "text": None, "lang": lang}
    if rng.random() < 0.02:  # second, later crawl of the same url
        html2 = _page_html(i, url, num_sites, rng, n_pages, extra_para=True)
        yield {"url": url, "warc_ts": ts + timedelta(days=1), "html": html2,
               "text": None, "lang": lang}


PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def generate_pages_spark(spark, n_pages: int, seed: int = 42,
                         num_partitions: int | None = None):
    """Distributed generation: spark.range → mapInPandas, one Arrow batch per
    slice of page indices. Identical rows to generate_pages_rows in any
    partitioning (per-row seeding)."""
    import pandas as pd

    num_partitions = num_partitions or spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"].tolist():
                rows.extend(page_rows_for_index(int(i), n_pages, seed))
            if rows:
                yield pd.DataFrame(rows)

    return (
        spark.range(0, n_pages, numPartitions=num_partitions)
        .mapInPandas(gen, schema=PAGES_SCHEMA)
    )


def pages_df_local(spark, n_pages: int, seed: int = 42):
    """Driver-side generation for small test fixtures (exact same rows)."""
    rows = list(generate_pages_rows(n_pages, seed))
    return spark.createDataFrame(rows, schema=PAGES_SCHEMA)
