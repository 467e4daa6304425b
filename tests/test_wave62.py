"""Wave 62: source-concentration report (HHI / top-k share / Gini),
corpus distinct-n diversity ratios, cross-source near-dup attribution
matrix.

Independent evidence beyond the DuckDB oracles: pure-Python replicas
over the real sf0.001 tables — including a from-first-principles Gini
(sorted cumulative definition, not the rank-sum identity the query
uses) and a full hashlib replica of the MinHash banding pipeline."""

import hashlib
import math
from collections import defaultdict

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    N_BANDS,
    N_MINHASH,
    q_corpus_distinct_ngrams,
    q_cross_source_dup_matrix,
    q_source_concentration,
)

from .replicas import _toks

SF = "/root/testdata/sf0.001"


def _docs():
    return pq.read_table(f"{SF}/documents.parquet").to_pylist()


# ------------------------------------------------ source concentration


def test_source_concentration_replica(spark):
    mass = defaultdict(int)
    for d in _docs():
        mass[d["source"]] += len(_toks(d["text"]))
    xs = sorted(mass.values())  # ASC for the textbook Gini definition
    n, total = len(xs), sum(xs)
    hhi = sum(x * x for x in xs) / total**2
    # first-principles Gini: G = (2*sum(i*x_i))/(n*total) - (n+1)/n
    gini = 2 * sum(i * x for i, x in enumerate(xs, 1)) / (n * total) - (
        n + 1
    ) / n
    top = sorted(xs, reverse=True)
    [r] = q_source_concentration(spark, SF).collect()
    assert r["n_sources"] == n
    assert r["total_tokens"] == total
    assert abs(r["hhi"] - hhi) < 1e-6
    assert abs(r["top1_share"] - top[0] / total) < 1e-6
    assert abs(r["top3_share"] - sum(top[:3]) / total) < 1e-6
    assert abs(r["gini"] - gini) < 1e-6
    # sf sources are near-uniform: HHI must sit near 1/n, Gini near 0
    assert abs(r["hhi"] - 1 / n) < 0.01 and r["gini"] < 0.2


# ---------------------------------------------- distinct n-gram ratios


def test_corpus_distinct_ngrams_replica(spark):
    want = {}
    for n in (1, 2, 3):
        tot, seen = 0, set()
        for d in _docs():
            t = _toks(d["text"])
            grams = [" ".join(t[i : i + n]) for i in range(len(t) - n + 1)]
            tot += len(grams)
            seen.update(grams)
        want[n] = (tot, len(seen))
    got = {r["n"]: r for r in q_corpus_distinct_ngrams(spark, SF).collect()}
    assert set(got) == {1, 2, 3}
    for n, (tot, dis) in want.items():
        assert got[n]["total_ngrams"] == tot
        assert got[n]["distinct_ngrams"] == dis
        assert abs(got[n]["distinct_ratio"] - dis / tot) < 1e-6
    # diversity must increase with n (near-guaranteed on natural corpora)
    assert (
        got[1]["distinct_ratio"]
        < got[2]["distinct_ratio"]
        < got[3]["distinct_ratio"]
    )


# --------------------------------------- cross-source dup attribution


def _minhash_pairs_replica(docs):
    """hashlib replica of _minhash_pairs: distinct 3-shingles, 16
    md5-seeded min-hashes, 4 banded signatures, bucket pairs."""
    bands = defaultdict(list)
    per_band = N_MINHASH // N_BANDS
    for d in docs:
        t = _toks(d["text"])
        sh = {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}
        if not sh:
            continue
        mh = [
            min(
                hashlib.md5(f"{seed}:{s}".encode()).hexdigest() for s in sh
            )
            for seed in range(N_MINHASH)
        ]
        for band in range(N_BANDS):
            sig = hashlib.md5(
                ",".join(mh[band * per_band : (band + 1) * per_band]).encode()
            ).hexdigest()
            bands[(band, sig)].append(d["doc_id"])
    pairs = set()
    for ids in bands.values():
        ids = sorted(ids)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                pairs.add((a, b))
    return pairs


def test_cross_source_dup_matrix_replica(spark):
    docs = _docs()
    src = {d["doc_id"]: d["source"] for d in docs}
    want = defaultdict(int)
    for a, b in _minhash_pairs_replica(docs):
        sa, sb = sorted((src[a], src[b]))
        want[(sa, sb)] += 1
    got = {
        (r["source_a"], r["source_b"]): r["n_dup_pairs"]
        for r in q_cross_source_dup_matrix(spark, SF).collect()
    }
    assert got == dict(want)
    assert got  # non-degenerate: the sf corpus has near-dups
    assert sum(got.values()) == len(_minhash_pairs_replica(docs))


def test_source_keys_are_unordered(spark):
    for r in q_cross_source_dup_matrix(spark, SF).collect():
        assert r["source_a"] <= r["source_b"]
