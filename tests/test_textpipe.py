from __future__ import annotations

import hashlib
import math
import random
import re

import pytest
from pyspark.sql import functions as F

from pargraph_spark.functions.text import (
    STOPWORDS,
    fingerprint,
    lang_id,
    quality_score,
    simhash16,
    shingles,
    token_count,
)
from pargraph_spark.operators.dedup import (
    doc_shingles,
    exact_dedup,
    jaccard_verify,
    lsh_bands,
    lsh_candidate_pairs,
    minhash_dedup_pairs,
    minhash_signatures,
)
from tests.oracles import minhash_pairs_oracle
from tests.test_fixpoint import _jobs

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


def _norm(s: str) -> str:
    return re.sub(r"\s+", " ", s.strip()).lower()


def _toks(s: str) -> list[str]:
    n = _norm(s)
    return n.split(" ") if n else []


def test_token_count_and_fingerprint(spark, docs):
    rows = docs.select(
        "doc_id", "text", token_count(F.col("text")).alias("n"),
        fingerprint(F.col("text")).alias("fp"),
    ).collect()
    for r in rows:
        assert r["n"] == len(_toks(r["text"]))
        assert r["fp"] == hashlib.md5(_norm(r["text"]).encode()).hexdigest()


def test_lang_id_semantics(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog is here"),
         (2, "der hund und die katze ist nicht da"),
         (3, "xyzzy qwerty"),
         (4, ""),
         (5, None)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["l"] for r in df.select("doc_id", lang_id(F.col("text")).alias("l")).collect()}
    assert got == {1: "en", 2: "de", 3: "und", 4: "und", 5: "und"}


def test_quality_score_bounds(spark, docs):
    rows = docs.select(quality_score(F.col("text")).alias("q")).collect()
    assert all(0.0 <= r["q"] <= 1.0 for r in rows)


def test_simhash_matches_python(spark, docs):
    got = {r["doc_id"]: r["simhash"] for r in simhash16(docs, "doc_id", "text").collect()}

    def py_simhash(text: str) -> int:
        sums = [0] * 16
        for tok in _toks(text):
            h = hashlib.md5(tok.encode()).hexdigest()
            for b in range(16):
                sums[b] += 1 if h[b] in "89abcdef" else -1
        return sum((1 << b) for b in range(16) if sums[b] > 0)

    for r in docs.select("doc_id", "text").collect():
        assert got[r["doc_id"]] == py_simhash(r["text"]), r["doc_id"]


def test_shingles_semantics(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b"), (3, "")], "id long, text string"
    )
    got = {r["id"]: sorted(r["s"]) for r in df.select("id", shingles(F.col("text"), 3).alias("s")).collect()}
    assert got[1] == ["a b c", "b c d"]
    assert got[2] == ["a b"]
    # zero-token docs produce NO shingles: empty docs must not acquire
    # minhash signatures and pair with each other in LSH
    assert got[3] == []


def test_bpe_token_count(spark):
    import re as _re

    from pargraph_spark.functions.text import BPE_ISH_PATTERN, bpe_token_count

    df = spark.createDataFrame(
        [(1, "ab, cd9 - x"), (2, ""), (3, None), (4, "Hello... world!!")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["n"] for r in df.select("doc_id", bpe_token_count(F.col("text")).alias("n")).collect()}
    for r in df.collect():
        norm = _norm(r["text"] or "")
        assert got[r["doc_id"]] == len(_re.findall(BPE_ISH_PATTERN, norm))


def test_winnow_fingerprints_match_python(spark, docs):
    from pargraph_spark.operators.dedup import winnow_fingerprints

    k, w = 8, 4
    got: dict[int, set] = {}
    for r in winnow_fingerprints(docs, "doc_id", "text", k=k, w=w).collect():
        got.setdefault(r["id"], set()).add(r["wfp"])

    for r in docs.select("doc_id", "text").collect():
        n = _norm(r["text"])
        if len(n) < k:
            hs = [hashlib.md5(n.encode()).hexdigest()]
        else:
            hs = [hashlib.md5(n[i:i + k].encode()).hexdigest() for i in range(len(n) - k + 1)]
        if len(hs) < w:
            expect = {min(hs)}
        else:
            expect = {min(hs[j:j + w]) for j in range(len(hs) - w + 1)}
        assert got[r["doc_id"]] == expect, r["doc_id"]


def test_winnow_guarantee_shared_fingerprint_on_overlap(spark):
    from pargraph_spark.operators.dedup import winnow_fingerprints

    # two docs sharing a long substring must share >=1 fingerprint (k+w-1 rule)
    common = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, "XXXX " + common + " YYYY"), (2, "AAAA " + common + " BBBB"), (3, "zzz unrelated qqq")],
        "doc_id long, text string",
    )
    fps: dict[int, set] = {1: set(), 2: set(), 3: set()}
    for r in winnow_fingerprints(df, "doc_id", "text").collect():
        fps[r["id"]].add(r["wfp"])
    assert fps[1] & fps[2]
    assert not (fps[1] & fps[3])


def test_embedding_near_dup(spark):
    from pargraph_spark.operators.similarity import cosine_near_dup_pairs

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = cosine_near_dup_pairs(emb, threshold=0.4).collect()
    import numpy as np

    data = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.collect()}
    expect = set()
    for a in data:
        for b in data:
            if a < b:
                c = float(data[a] @ data[b] / (np.linalg.norm(data[a]) * np.linalg.norm(data[b])))
                if c >= 0.4:
                    expect.add((a, b))
    assert {(r["a"], r["b"]) for r in rows} == expect
    for r in rows:
        assert r["cos"] >= 0.4


def test_exact_dedup_with_real_dupes(spark, docs):
    with_dupes = docs.select("doc_id", "text").unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text").limit(10)
    )
    out = exact_dedup(with_dupes, "doc_id", "text")
    assert out.where(F.col("n_dupes") == 2).count() == 10
    # canonical is the min doc_id (the original)
    assert out.where(F.col("n_dupes") == 2).where(F.col("canonical_id") >= 100000).count() == 0


def test_minhash_matches_python_and_finds_near_dupes(spark, docs):
    sh = doc_shingles(docs.select("doc_id", "text"), "doc_id", "text", shingle_size=1).cache()
    sig = minhash_signatures(sh, num_hashes=8)
    got = {r["id"]: [r[f"h{j}"] for j in range(8)] for r in sig.collect()}

    for r in docs.select("doc_id", "text").collect():
        sset = set(_toks(r["text"])) or {""}
        expect = [
            min(hashlib.md5(f"{j}:{s}".encode()).hexdigest() for s in sset)
            for j in range(8)
        ]
        assert got[r["doc_id"]] == expect, r["doc_id"]

    cands = lsh_candidate_pairs(lsh_bands(sig, 8, 4))
    verified = jaccard_verify(cands, sh, threshold=0.0)
    rows = verified.collect()
    assert len(rows) > 0, "shared-vocab corpus should give LSH candidates"
    # spot-check jaccard exactness
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for r in rows[:20]:
        a, b = set(_toks(texts[r["a"]])), set(_toks(texts[r["b"]]))
        assert math.isclose(r["jaccard"], len(a & b) / len(a | b), rel_tol=0, abs_tol=0)


def _corpus(seed: int) -> dict[int, str]:
    """162 docs: 150 random texts over a shared 120-word vocabulary, ten
    near-copies of the first ten (one to three tokens replaced), one empty
    doc and one one-token doc. Ids are sparse and not in text order."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(120)]
    base = [[rng.choice(vocab) for _ in range(rng.randint(12, 30))] for _ in range(150)]
    copies = []
    for toks in base[:10]:
        toks = list(toks)
        for _ in range(rng.randint(1, 3)):
            toks[rng.randrange(len(toks))] = rng.choice(vocab)
        copies.append(toks)
    texts = [" ".join(t) for t in base + copies]
    texts[3] = texts[3].upper().replace(" ", "  ", 2)  # case and spacing normalize away
    texts += ["", "Solo"]
    ids = rng.sample(range(10_000), len(texts))
    return dict(zip(ids, texts))


@pytest.fixture(scope="module")
def corpus(spark):
    texts = _corpus(5)
    return texts, spark.createDataFrame(sorted(texts.items()), "doc_id long, text string")


@pytest.mark.parametrize("shingle_size", [1, 2, 3])
@pytest.mark.parametrize("threshold", [0.0, 0.5])
def test_minhash_dedup_pairs_matches_reference(spark, corpus, shingle_size, threshold):
    texts, df = corpus
    got = {(r["a"], r["b"]): r["jaccard"] for r in minhash_dedup_pairs(
        df, "doc_id", "text", shingle_size=shingle_size, threshold=threshold).collect()}
    want = minhash_pairs_oracle(texts, shingle_size, 8, 4, threshold)
    assert got == want  # floats compared exactly
    ids = list(texts)
    planted = {tuple(sorted((ids[i], ids[150 + i]))) for i in range(10)}
    assert len(planted & got.keys()) >= 7


def test_minhash_dedup_pairs_hot_bucket_cap_matches_reference(spark, corpus):
    texts, df = corpus
    got = {(r["a"], r["b"]): r["jaccard"] for r in minhash_dedup_pairs(
        df, "doc_id", "text", shingle_size=1, threshold=0.0, max_postings=3).collect()}
    want = minhash_pairs_oracle(texts, 1, 8, 4, 0.0, max_postings=3)
    assert got == want
    assert len(want) < len(minhash_pairs_oracle(texts, 1, 8, 4, 0.0))


def test_minhash_dedup_pairs_job_count(spark):
    # one call builds a single per-document table (no exchange), bands it,
    # and verifies against it: a handful of jobs, not one per shuffle of
    # exploded shingle rows
    df = spark.createDataFrame(sorted(_corpus(6).items()), "doc_id long, text string")
    rows, jobs = _jobs(spark, lambda: minhash_dedup_pairs(
        df, "doc_id", "text", shingle_size=2, threshold=0.5).collect())
    assert rows
    assert jobs <= 10, jobs


def test_hot_fingerprint_cap_bounds_boilerplate_blowup(spark):
    # VERDICT r2 #3: a boilerplate string present in EVERY doc must not
    # make the winnowing candidate join O(n²) when the cap is on — and a
    # genuine clone pair (shared unique passage) must still surface.
    from pargraph_spark.operators.dedup import winnow_pairs

    n = 40
    boiler = "subscribe to our newsletter and accept all cookies to continue reading "
    passage = "the quick brown fox jumped over the extremely lazy dog again "
    rows = []
    for i in range(n):
        uniq = f" doc number {i} carries payload {i * 37 % 101} {i * 53 % 97} "
        text = boiler + uniq
        if i in (7, 23):  # the planted clone pair shares a unique passage
            text += passage * 3
        rows.append((i, text))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = winnow_pairs(df, "doc_id", "text", min_shared=1).count()
    capped_df = winnow_pairs(df, "doc_id", "text", min_shared=1, max_postings=5)
    capped = {(r["a"], r["b"]) for r in capped_df.collect()}
    # boilerplate alone makes every pair a candidate without the cap
    assert uncapped == n * (n - 1) // 2
    # with the cap, candidate volume collapses (no quadratic blowup) ...
    assert len(capped) < uncapped / 10, len(capped)
    # ... but the clone pair survives via its non-hot passage fingerprints
    assert (7, 23) in capped


def test_lsh_hot_bucket_cap(spark):
    # same guard on the MinHash band join: one bucket shared by all docs
    # contributes zero candidates under the cap; a pair in its own bucket
    # survives.
    from pargraph_spark.operators.dedup import lsh_candidate_pairs

    n = 30
    rows = [(i, "hot", "sigA") for i in range(n)]  # everyone in one bucket
    rows += [(1, "b2", "sigB"), (2, "b2", "sigB")]  # plus a cold pair
    bands = spark.createDataFrame(rows, "id long, band string, sig string")
    uncapped = lsh_candidate_pairs(bands).count()
    capped = {(r["a"], r["b"]) for r in lsh_candidate_pairs(bands, max_postings=5).collect()}
    assert uncapped == n * (n - 1) // 2  # (1,2) also shares the hot bucket
    assert capped == {(1, 2)}


def test_near_dup_groups_elect_canonical(spark):
    from pargraph_spark.operators.dedup import near_dup_groups

    base = "the quick brown fox jumps over the lazy dog near the river bank today "
    other = "completely different content about spark partitions and shuffles here "
    rows = [
        (1, base + "alpha"),
        (2, base + "beta"),        # near-dup of 1 (and 3 via chain)
        (3, base + "gamma"),
        (10, other + "one"),
        (11, other + "two"),       # near-dup pair {10, 11}
        (50, "a totally unrelated singleton document with its own words entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["canonical_id"]
        for r in near_dup_groups(spark, df, "doc_id", "text",
                                 shingle_size=2, threshold=0.5).collect()
    }
    assert got[1] == got[2] == got[3] == 1  # one group, min id canonical
    assert got[10] == got[11] == 10
    assert 50 not in got  # singletons are implicitly canonical (absent)


def test_top_terms_matches_python_oracle(spark):
    from pargraph_spark.functions.text import top_terms

    docs = [
        (1, "apple banana apple cherry"),
        (2, "banana banana cherry"),
        (3, "apple cherry cherry durian durian durian"),
        (4, None),
        (5, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r["doc_id"], r["rank"]): (r["term"], r["tf"], r["df"])
           for r in top_terms(df, k=2).collect()}

    # python oracle
    from collections import Counter, defaultdict

    toks = {i: (t or "").lower().split() for i, t in docs}
    n_docs = len(docs)
    dfreq = Counter()
    for i, ts in toks.items():
        for t in set(ts):
            dfreq[t] += 1
    expect = {}
    for i, ts in toks.items():
        tf = Counter(ts)
        scored = sorted(
            tf.items(),
            key=lambda kv: (-(kv[1] * (n_docs - dfreq[kv[0]] + 0.5)
                             / (dfreq[kv[0]] + 0.5)), kv[0]),
        )
        for rank, (term, c) in enumerate(scored[:2], 1):
            expect[(i, rank)] = (term, c, dfreq[term])
    assert got == expect
    # empty/null docs contribute no rows but DO count toward N
    assert not any(d in (4, 5) for d, _ in got)


def test_tfidf_cosine_pairs_matches_numpy_reference(spark):
    # integer-weight tf-idf cosine vs a straightforward numpy mirror
    from collections import Counter

    import numpy as np

    from pargraph_spark.operators.dedup import tfidf_cosine_pairs

    texts = {
        0: "apple banana cherry apple",
        1: "apple banana cherry",
        2: "dog cat mouse",
        3: "dog cat mouse dog",
        4: "quantum flux capacitor",
        5: "",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        (r["a"], r["b"]): r["cos"]
        for r in tfidf_cosine_pairs(df, "doc_id", "text", threshold=0.0).collect()
    }

    toks = {d: t.split() if t else [] for d, t in texts.items()}
    n = len(texts)
    dfreq = Counter()
    for t in toks.values():
        dfreq.update(set(t))
    vocab = sorted(dfreq)
    vecs = {}
    for d, t in toks.items():
        tf = Counter(t)
        vecs[d] = np.array(
            [tf[w] * (n - dfreq[w] + 1) for w in vocab], dtype=np.float64
        )
    for a in range(n):
        for b in range(a + 1, n):
            va, vb = vecs[a], vecs[b]
            dot = float(va @ vb)
            if dot == 0.0:
                # no shared term -> never paired by the posting-list join
                assert (a, b) not in got
                continue
            want = dot / math.sqrt(float(va @ va) * float(vb @ vb))
            assert math.isclose(got[(a, b)], want, rel_tol=1e-12), (a, b)
    # identical-content docs score 1 exactly after scaling
    assert got[(2, 3)] < 1.0 and got[(0, 1)] < 1.0


def test_tfidf_cosine_hot_term_cap(spark):
    # a corpus-wide boilerplate term must not drive the pair join
    # quadratic when capped — and capped pairs keep full-vector norms
    from pargraph_spark.operators.dedup import tfidf_cosine_pairs

    n = 30
    rows = [(i, f"common filler words everywhere payload{i} payload{(i + 1) % n}")
            for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = tfidf_cosine_pairs(df, "doc_id", "text", threshold=0.0)
    capped = tfidf_cosine_pairs(df, "doc_id", "text", threshold=0.0, max_postings=5)
    assert uncapped.count() == n * (n - 1) // 2
    got = {(r["a"], r["b"]): r["cos"] for r in capped.collect()}
    # only the payload-sharing neighbours survive the cap...
    assert 0 < len(got) < n * (n - 1) // 2
    # ...and their cosine is computed against FULL norms, so it is below 1
    assert all(0.0 < c < 1.0 for c in got.values())
