"""Single-node pure-Python/numpy reference implementations.

Metamorphic-oracle pattern borrowed from the reference's tests: a decorated
function executed directly must equal the traced/engine-executed result
(/root/reference/tests/test_graph_generation.py:24-35). Here: the
distributed Spark operator must equal the single-node oracle on the same
fixture — allclose(1e-6) for PageRank, exact for components/labels/triangles.
"""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

import numpy as np


def pagerank_oracle(edges: list[tuple[int, int]], vertices: list[int],
                    damping: float = 0.85, tol: float = 1e-10,
                    max_iter: int = 200) -> dict[int, float]:
    """Dense-vector PageRank with dangling-mass redistribution (numpy)."""
    ids = sorted(set(vertices))
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    out: list[list[int]] = [[] for _ in range(n)]
    for s, d in set(edges):
        if s != d:
            out[idx[s]].append(idx[d])
    outdeg = np.array([len(o) for o in out], dtype=np.float64)
    r = np.full(n, 1.0 / n)
    src_i = np.array([i for i in range(n) for _ in out[i]], dtype=np.int64)
    dst_i = np.array([j for i in range(n) for j in out[i]], dtype=np.int64)
    dangling = outdeg == 0
    for _ in range(max_iter):
        contrib = np.zeros(n)
        if len(src_i):
            np.add.at(contrib, dst_i, r[src_i] / outdeg[src_i])
        dang_mass = r[dangling].sum()
        r_new = (1.0 - damping) / n + damping * (contrib + dang_mass / n)
        delta = np.abs(r_new - r).max()
        r = r_new
        if delta < tol:
            break
    return {v: float(r[idx[v]]) for v in ids}


def components_oracle(edges: list[tuple[int, int]],
                      vertices: list[int]) -> dict[int, int]:
    """Union-find; component label = min member id."""
    parent: dict[int, int] = {v: v for v in vertices}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups: dict[int, list[int]] = defaultdict(list)
    for v in vertices:
        groups[find(v)].append(v)
    return {v: min(g) for g in groups.values() for v in g}


def label_propagation_oracle(edges: list[tuple[int, int]], vertices: list[int],
                             max_iter: int = 20) -> dict[int, int]:
    """Synchronous LPA over the undirected graph; tie-break = min label;
    isolated vertices keep their own label. Stops when no label changes."""
    nbrs: dict[int, set[int]] = defaultdict(set)
    for a, b in edges:
        if a != b:
            nbrs[a].add(b)
            nbrs[b].add(a)
    label = {v: v for v in vertices}
    for _ in range(max_iter):
        new = {}
        for v in vertices:
            if not nbrs[v]:
                new[v] = label[v]
                continue
            counts = Counter(label[u] for u in nbrs[v])
            best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        if new == label:
            break
        label = new
    return label


def triangles_oracle(edges: list[tuple[int, int]]) -> tuple[int, dict[int, int]]:
    """Exact triangle count, global + per-vertex, brute force over adjacency."""
    und: set[tuple[int, int]] = set()
    for a, b in edges:
        if a != b:
            und.add((min(a, b), max(a, b)))
    nbrs: dict[int, set[int]] = defaultdict(set)
    for a, b in und:
        nbrs[a].add(b)
        nbrs[b].add(a)
    per: dict[int, int] = Counter()
    total = 0
    # canonical enumeration: a < b < c with all three edges present
    for a, b in sorted(und):
        for c in nbrs[a] & nbrs[b]:
            if c > b:
                total += 1
                per[a] += 1
                per[b] += 1
                per[c] += 1
    return total, dict(per)


def scc_oracle(edges: list[tuple[int, int]],
               vertices: list[int]) -> dict[int, int]:
    """Iterative Tarjan; SCC label = min member id."""
    adj: dict[int, list[int]] = defaultdict(list)
    vs = sorted(set(vertices))
    for s, d in sorted(set(edges)):
        if s != d:
            adj[s].append(d)
    index: dict[int, int] = {}
    low: dict[int, int] = {}
    onstack: set[int] = set()
    stack: list[int] = []
    out: dict[int, int] = {}
    counter = 0
    for root in vs:
        if root in index:
            continue
        index[root] = low[root] = counter
        counter += 1
        stack.append(root)
        onstack.add(root)
        work = [(root, iter(adj[root]))]
        while work:
            v, it = work[-1]
            advanced = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = counter
                    counter += 1
                    stack.append(w)
                    onstack.add(w)
                    work.append((w, iter(adj[w])))
                    advanced = True
                    break
                if w in onstack:
                    low[v] = min(low[v], index[w])
            if advanced:
                continue
            work.pop()
            if work:
                pv = work[-1][0]
                low[pv] = min(low[pv], low[v])
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    onstack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                m = min(comp)
                for w in comp:
                    out[w] = m
    return out


def bowtie_oracle(edges: list[tuple[int, int]],
                  vertices: list[int]) -> dict[int, str]:
    """Broder bowtie regions; core = largest SCC (ties -> min scc id)."""
    from collections import deque

    scc = scc_oracle(edges, vertices)
    sizes = Counter(scc.values())
    core_id = min(sizes, key=lambda c: (-sizes[c], c))
    core = {v for v, c in scc.items() if c == core_id}
    fwd: dict[int, list[int]] = defaultdict(list)
    bwd: dict[int, list[int]] = defaultdict(list)
    for s, d in set(edges):
        if s != d:
            fwd[s].append(d)
            bwd[d].append(s)

    def closure(seed: set[int], adj: dict[int, list[int]]) -> set[int]:
        seen = set(seed)
        dq = deque(seed)
        while dq:
            v = dq.popleft()
            for w in adj.get(v, ()):
                if w not in seen:
                    seen.add(w)
                    dq.append(w)
        return seen - seed

    out_set = closure(core, fwd)
    in_set = closure(core, bwd)
    fwd_from_in = closure(in_set, fwd) if in_set else set()
    bwd_from_out = closure(out_set, bwd) if out_set else set()
    known = core | in_set | out_set
    tubes = (fwd_from_in & bwd_from_out) - known
    tendrils = ((fwd_from_in | bwd_from_out) - known) - tubes
    regions: dict[int, str] = {}
    for v in sorted(set(vertices)):
        if v in core:
            regions[v] = "CORE"
        elif v in in_set:
            regions[v] = "IN"
        elif v in out_set:
            regions[v] = "OUT"
        elif v in tubes:
            regions[v] = "TUBES"
        elif v in tendrils:
            regions[v] = "TENDRILS"
        else:
            regions[v] = "DISCONNECTED"
    return regions


def ppr_oracle(edges: list[tuple[int, int]], vertices: list[int],
               teleport: dict[int, float], damping: float = 0.85,
               iterations: int = 10) -> dict[int, float]:
    """Fixed-iteration personalized PageRank mirroring
    pagerank(teleport=...): r0 = T, r_{t+1} = (1-d)T + d(msg + dang·T),
    T normalized over the given teleport weights."""
    ids = sorted(set(vertices))
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    out: list[list[int]] = [[] for _ in range(n)]
    for s, d in set(edges):
        if s != d:
            out[idx[s]].append(idx[d])
    outdeg = np.array([len(o) for o in out], dtype=np.float64)
    # normalize over seeds PRESENT in the graph (pagerank._with_teleport)
    tot = sum(w for v, w in teleport.items() if v in idx)
    t = np.zeros(n)
    for v, w in teleport.items():
        if v in idx:
            t[idx[v]] = w / tot
    src_i = np.array([i for i in range(n) for _ in out[i]], dtype=np.int64)
    dst_i = np.array([j for i in range(n) for j in out[i]], dtype=np.int64)
    dangling = outdeg == 0
    r = t.copy()
    for _ in range(iterations):
        contrib = np.zeros(n)
        if len(src_i):
            np.add.at(contrib, dst_i, r[src_i] / outdeg[src_i])
        dang_mass = r[dangling].sum()
        r = (1.0 - damping) * t + damping * (contrib + dang_mass * t)
    return {v: float(r[idx[v]]) for v in ids}


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def shingles_oracle(text: str | None, size: int) -> set[str]:
    """Distinct word n-grams of whitespace-normalized, lowercased text;
    fewer than ``size`` tokens give one joined shingle, none give none."""
    toks = (text or "").lower().split()
    if not toks:
        return set()
    if len(toks) < size:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + size]) for i in range(len(toks) - size + 1)}


def minhash_pairs_oracle(texts: dict[int, str | None], shingle_size: int, num_hashes: int,
                         num_bands: int, threshold: float,
                         max_postings: int | None = None) -> dict[tuple[int, int], float]:
    """{(a, b): jaccard} of minhash_dedup_pairs: h_j = min md5('j:' || g)
    over a doc's shingles, band key = md5 of its r concatenated minhashes,
    candidates = a < b sharing a band bucket (buckets of more than
    ``max_postings`` docs dropped), kept when set Jaccard ≥ threshold."""
    sh = {i: shingles_oracle(t, shingle_size) for i, t in texts.items()}
    r = num_hashes // num_bands
    buckets: dict[tuple[int, str], list[int]] = defaultdict(list)
    for i, s in sh.items():
        if not s:
            continue
        sig = [min(_md5(f"{j}:{g}") for g in s) for j in range(num_hashes)]
        for b in range(num_bands):
            buckets[(b, _md5("".join(sig[b * r:(b + 1) * r])))].append(i)
    cands = {(a, b) for ids in buckets.values()
             if max_postings is None or len(ids) <= max_postings
             for a in ids for b in ids if a < b}
    out = {}
    for a, b in cands:
        inter = len(sh[a] & sh[b])
        jac = inter / (len(sh[a]) + len(sh[b]) - inter)
        if jac >= threshold:
            out[(a, b)] = jac
    return out
