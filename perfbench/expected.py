"""Single-node expected results the benchmark compares the engine against.

Graph algorithms use the repository's own oracles (``tests/oracles.py``);
this module adds what they do not cover: the url link graph a crawl must
extract to, the MinHash/LSH pair set, and brute-force cosine neighbours.
All of it runs outside the timed region.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict

import numpy as np
import pyarrow.parquet as pq

from pargraph_spark.functions.extract import extract_text_and_links
from pargraph_spark.functions.urlnorm import normalize_url


def url_graph(pages_path: str) -> tuple[set[str], set[tuple[str, str]]]:
    """(vertex urls, distinct (src_url, dst_url) links) of a crawl: the
    latest row per url, links normalized against the page url, self-links
    dropped; vertices are crawled urls plus every link target."""
    t = pq.read_table(pages_path, columns=["url", "warc_ts", "html"]).to_pylist()
    latest: dict[str, dict] = {}
    for r in t:
        cur = latest.get(r["url"])
        if cur is None or (r["warc_ts"], r["html"]) > (cur["warc_ts"], cur["html"]):
            latest[r["url"]] = r
    links: set[tuple[str, str]] = set()
    for url, r in latest.items():
        _, raw = extract_text_and_links(r["html"])
        for href in raw:
            u = normalize_url(href, url)
            if u is not None and u != url:
                links.add((url, u))
    return set(latest) | {d for _, d in links}, links


def _shingles(text: str, size: int) -> set[str]:
    toks = " ".join(text.split()).lower().split(" ") if text.strip() else []
    if not toks:
        return set()
    if len(toks) < size:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + size]) for i in range(len(toks) - size + 1)}


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def minhash_pairs(texts: dict[int, str], shingle_size: int, num_hashes: int,
                  num_bands: int, threshold: float) -> dict[tuple[int, int], float]:
    """{(a, b): jaccard} that ``minhash_dedup_pairs`` must return: md5
    minhashes, md5 band signatures, band-bucket candidates, exact verify."""
    sh = {i: _shingles(t, shingle_size) for i, t in texts.items()}
    r = num_hashes // num_bands
    buckets: dict[tuple[int, str], list[int]] = defaultdict(list)
    for i, s in sh.items():
        if not s:
            continue
        sig = [min(_md5(f"{j}:{g}") for g in s) for j in range(num_hashes)]
        for b in range(num_bands):
            buckets[(b, _md5("".join(sig[b * r:(b + 1) * r])))].append(i)
    cands = {(a, b) for ids in buckets.values() for a in ids for b in ids if a < b}
    out = {}
    for a, b in cands:
        inter = len(sh[a] & sh[b])
        jac = inter / (len(sh[a]) + len(sh[b]) - inter)
        if jac >= threshold:
            out[(a, b)] = jac
    return out


class Vectors:
    """Brute-force cosine over the corpus vectors (float64)."""

    def __init__(self, vectors: dict[int, np.ndarray]) -> None:
        self.ids = np.array(sorted(vectors), dtype=np.int64)
        self.mat = np.stack([vectors[i] for i in self.ids])
        self.unit = self.mat / np.linalg.norm(self.mat, axis=1, keepdims=True)
        self.row = {int(v): k for k, v in enumerate(self.ids)}

    def cos(self, a: int, b: int) -> float:
        return float(self.unit[self.row[a]] @ self.unit[self.row[b]])

    def topk(self, query: int, k: int) -> list[int]:
        """Neighbour ids by (cos desc, id asc), the query itself excluded."""
        cos = self.unit @ self.unit[self.row[query]]
        order = np.lexsort((self.ids, -cos))
        return [int(self.ids[j]) for j in order if self.ids[j] != query][:k]
