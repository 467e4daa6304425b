"""Wave 36: unicode-normalization triage + deterministic weighted
sampling (Efraimidis–Spirakis) + soft deduplication weights.

Independent evidence beyond the DuckDB oracles: pure-Python replays of
the count identities, the A-ES key math and the shingle-df commonness
over the real corpus, plus crafted corpora pinning each branch
(every invisible-char class; weight-proportional draws; duplicated vs
unique content ordering)."""

import math
import re
from collections import Counter

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    AES_KEY_MOD,
    AES_SAMPLE_K,
    CURLY_QUOTES,
    NBSP,
    SOFT_HYPHEN,
    TOKEN_SPLIT,
    ZERO_WIDTH_CHARS,
    _round6_half_up,
    q_dedup_soft_weights,
    q_unicode_normalize_stats,
    q_weighted_sample_aes,
    soft_weights_frame,
    unicode_normalize_frame,
    weighted_sample_frame,
)

from .replicas import _md5_poly, _round_repr

SF = "/root/testdata/sf0.001"


def _docs():
    return pq.read_table(
        f"{SF}/documents.parquet", columns=["doc_id", "text"]
    ).to_pylist()


def _shingle_set(text: str) -> set:
    ws = [w for w in re.split(TOKEN_SPLIT, text.lower()) if w != ""]
    return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}


# ---------------------------------------------------------------- unicode

def test_unicode_normalize_replica_real_corpus(spark):
    want = {}
    for r in _docs():
        t = r["text"]
        nb = t.count(NBSP)
        zw = sum(t.count(c) for c in ZERO_WIDTH_CHARS)
        sh = t.count(SOFT_HYPHEN)
        cq = sum(t.count(c) for c in CURLY_QUOTES)
        want[r["doc_id"]] = (
            len(t), nb, zw, sh, cq, len(t) - zw - sh,
            nb > 0 or zw > 0 or sh > 0 or cq > 0,
        )
    got = {
        r["doc_id"]: (
            r["n_chars"], r["nbsp_count"], r["zero_width_count"],
            r["soft_hyphen_count"], r["curly_quote_count"],
            r["n_chars_normalized"], r["needs_normalize"],
        )
        for r in q_unicode_normalize_stats(spark, SF).collect()
    }
    assert got == want and want


def test_unicode_normalize_crafted_branches(spark):
    rows = [
        ("clean", "plain ascii, straight 'quotes'"),
        ("nbsp", f"a{NBSP}b{NBSP}c"),
        ("zw", "ab​cd‌‍﻿e"),
        ("sh", "hy­phen­ated"),
        ("cq", "’‘“quoted”"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict() for r in unicode_normalize_frame(df).collect()}
    assert not got["clean"]["needs_normalize"]
    assert got["nbsp"]["nbsp_count"] == 2 and got["nbsp"]["needs_normalize"]
    # NBSP folds 1:1 — normalized length unchanged
    assert got["nbsp"]["n_chars_normalized"] == got["nbsp"]["n_chars"]
    assert got["zw"]["zero_width_count"] == 4
    assert got["zw"]["n_chars_normalized"] == got["zw"]["n_chars"] - 4
    assert got["sh"]["soft_hyphen_count"] == 2
    assert got["sh"]["n_chars_normalized"] == got["sh"]["n_chars"] - 2
    assert got["cq"]["curly_quote_count"] == 4
    assert got["cq"]["n_chars_normalized"] == got["cq"]["n_chars"]


# ------------------------------------------------------------------- A-ES

def _aes_key(doc_id, n_chars: int) -> float:
    m = _md5_poly(str(doc_id), AES_KEY_MOD)
    u = (m + 1) / (AES_KEY_MOD + 1)
    return _round6_half_up(math.log(u) * 1e6 / max(n_chars, 1))


def test_weighted_sample_replica_real_corpus(spark):
    keys = [
        (_aes_key(r["doc_id"], len(r["text"])), r["doc_id"], len(r["text"]))
        for r in _docs()
    ]
    keys.sort(key=lambda t: (-t[0], t[1]))
    want = [(d, n, k) for k, d, n in keys[:AES_SAMPLE_K]]
    got = [
        (r["doc_id"], r["weight_chars"], r["sample_key"])
        for r in q_weighted_sample_aes(spark, SF).collect()
    ]
    assert sorted(got) == sorted(want)
    # exact-K draw, deterministic under re-run
    assert len(got) == AES_SAMPLE_K
    got2 = [
        (r["doc_id"], r["weight_chars"], r["sample_key"])
        for r in q_weighted_sample_aes(spark, SF).collect()
    ]
    assert sorted(got2) == sorted(got)


def test_weighted_sample_weight_proportionality(spark):
    # 200 docs, two weight classes: heavy docs (100 chars) must dominate a
    # 40-doc draw over light docs (5 chars) — E-S picks w-proportionally.
    rows = [
        (f"h{i}", "x" * 100) for i in range(100)
    ] + [
        (f"l{i}", "x" * 5) for i in range(100)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = [r["doc_id"] for r in weighted_sample_frame(df, k=40).collect()]
    assert len(got) == 40
    heavy = sum(1 for d in got if d.startswith("h"))
    # E[heavy] ≈ 38.3 of 40; even a loose bar separates the classes
    assert heavy >= 30
    # replica agreement on the crafted frame too
    keys = sorted(
        ((_aes_key(d, len(t)), d) for d, t in rows),
        key=lambda p: (-p[0], p[1]),
    )
    assert sorted(got) == sorted(d for _, d in keys[:40])


# ---------------------------------------------------------------- softdedup

def test_soft_weights_replica_real_corpus(spark):
    docs = _docs()
    df_count = Counter()
    per_doc = {}
    for r in docs:
        s = _shingle_set(r["text"])
        per_doc[r["doc_id"]] = s
        df_count.update(s)
    want = {}
    for did, s in per_doc.items():
        if not s:
            want[did] = (0, 0.0, 1.0)
            continue
        micro = sum(
            int(_round_repr(math.log(df_count[g]) * 1e6, 0)) for g in s
        )
        mean = _round_repr(micro / len(s) / 1e6)
        want[did] = (len(s), mean, _round_repr(1.0 / (1.0 + mean)))
    got = {
        r["doc_id"]: (r["n_shingles"], r["mean_log_df"], r["soft_weight"])
        for r in q_dedup_soft_weights(spark, SF).collect()
    }
    assert got == want and want


def test_soft_weights_crafted_ordering(spark):
    boiler = "all rights reserved click here to subscribe now today"
    rows = (
        [(f"dup{i}", boiler) for i in range(10)]
        + [("uniq", "a genuinely novel sentence about quasar spectroscopy")]
        + [("short", "too few")]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict() for r in soft_weights_frame(df).collect()}
    assert len(got) == 12
    # unique content keeps weight 1 (df=1 ⇒ ln=0); boilerplate sinks
    assert got["uniq"]["soft_weight"] == 1.0
    assert got["dup0"]["soft_weight"] < 0.5
    assert all(
        got[f"dup{i}"]["soft_weight"] == got["dup0"]["soft_weight"]
        for i in range(10)
    )
    # ln(10) ≈ 2.302585 for every shingle of a 10× duplicate
    assert got["dup0"]["mean_log_df"] == 2.302585
    # <3 tokens ⇒ no shingles ⇒ explicit weight 1
    assert got["short"]["n_shingles"] == 0
    assert got["short"]["soft_weight"] == 1.0
