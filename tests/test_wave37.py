"""Wave 37: model-generated-text (slop) heuristics + unbiased pass@k
estimation + GRPO-style within-group advantage normalization.

Independent evidence beyond the DuckDB oracles: pure-Python replays
(substring identities; math.comb exact combinatorics; exact-integer
moment math) over the real corpora, plus crafted corpora pinning each
verdict branch and estimator edge case."""

import math
from collections import defaultdict

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    ADV_SCALE,
    BULLET_MARKERS,
    PASS_AT_KS,
    SLOP_PHRASES,
    group_advantage_frame,
    pass_at_k_frame,
    q_eval_pass_at_k,
    q_group_advantage_normalize,
    q_synthetic_text_flags,
    synthetic_flags_frame,
)

from .replicas import _round_repr

SF = "/root/testdata/sf0.001"


# ------------------------------------------------------------------- slop

def test_synthetic_flags_replica_real_corpus(spark):
    docs = pq.read_table(
        f"{SF}/documents.parquet", columns=["doc_id", "text"]
    ).to_pylist()
    want = {}
    for r in docs:
        low = r["text"].lower()
        slop = sum(low.count(p) for p in SLOP_PHRASES)
        bl = sum(low.count(m) for m in BULLET_MARKERS)
        em = low.count("—")
        want[r["doc_id"]] = (
            slop, bl, em, slop >= 2 or (slop >= 1 and bl >= 3)
        )
    got = {
        r["doc_id"]: (
            r["slop_hits"], r["bullet_lines"], r["em_dashes"],
            r["synthetic_suspect"],
        )
        for r in q_synthetic_text_flags(spark, SF).collect()
    }
    assert got == want and want


def test_synthetic_flags_crafted_verdicts(spark):
    rows = [
        ("clean", "An essay written by a person — with one em-dash."),
        ("two_hits", "As an AI, I cannot assist with that request."),
        ("one_hit_listy",
         "I hope this helps!\n- first\n- second\n* third point"),
        ("one_hit_plain", "Let us delve into the archives together."),
        ("listy_no_hit", "Shopping:\n- eggs\n- milk\n- bread\n- cheese"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict() for r in synthetic_flags_frame(df).collect()}
    assert not got["clean"]["synthetic_suspect"]
    assert got["clean"]["em_dashes"] == 1
    assert got["two_hits"]["slop_hits"] == 2
    assert got["two_hits"]["synthetic_suspect"]
    assert got["one_hit_listy"]["slop_hits"] == 1
    assert got["one_hit_listy"]["bullet_lines"] == 3
    assert got["one_hit_listy"]["synthetic_suspect"]
    assert got["one_hit_plain"]["slop_hits"] == 1
    assert not got["one_hit_plain"]["synthetic_suspect"]
    assert got["listy_no_hit"]["slop_hits"] == 0
    assert not got["listy_no_hit"]["synthetic_suspect"]


# ---------------------------------------------------------------- pass@k

def test_pass_at_k_replica_math_comb(spark):
    ev = pq.read_table(
        f"{SF}/events.parquet", columns=["user_id", "event_type"]
    ).to_pylist()
    n_by, c_by = defaultdict(int), defaultdict(int)
    for r in ev:
        n_by[r["user_id"]] += 1
        if r["event_type"] == "purchase":
            c_by[r["user_id"]] += 1
    want = {}
    for u, n in n_by.items():
        c = c_by[u]
        row = [n, c]
        for k in PASS_AT_KS:
            if n < k:
                row.append(None)
            else:
                # the exact estimator via math.comb, evaluated through the
                # same single double division the engines perform
                num = math.comb(n - c, k) * math.factorial(k) \
                    if n - c >= k else 0
                den = 1
                for i in range(k):
                    den *= n - i
                row.append(_round_repr(1.0 - num / den))
        want[u] = tuple(row)
    got = {
        r["user_id"]: (
            r["n_attempts"], r["n_success"],
            *[r[f"pass_at_{k}"] for k in PASS_AT_KS],
        )
        for r in q_eval_pass_at_k(spark, SF).collect()
    }
    assert got == want and want
    # pass@1 is exactly c/n; pass@k is monotone in k
    for u, (n, c, p1, p2, p3) in got.items():
        assert p1 == _round_repr(c / n)
        if p2 is not None and p3 is not None:
            assert p1 <= p2 <= p3 + 1e-9


def test_pass_at_k_crafted_edges(spark):
    rows = (
        [("all_fail", "click")] * 5
        + [("all_pass", "purchase")] * 4
        + [("half", "purchase"), ("half", "click")]
        + [("tiny", "purchase"), ("tiny", "click")]  # n=2 < 3 ⇒ pass@3 NULL
        + [("one", "click")]  # n=1 ⇒ pass@2, pass@3 NULL
    )
    df = spark.createDataFrame(
        [(u, t) for u, t in rows], ["user_id", "event_type"]
    )
    got = {r["user_id"]: r.asDict() for r in pass_at_k_frame(df).collect()}
    assert got["all_fail"]["pass_at_1"] == 0.0
    assert got["all_fail"]["pass_at_3"] == 0.0
    assert got["all_pass"]["pass_at_1"] == 1.0
    assert got["all_pass"]["pass_at_3"] == 1.0
    # n=2, c=1: pass@1 = 0.5, pass@2 = 1 (a 2-draw must include the success)
    assert got["half"]["pass_at_1"] == 0.5
    assert got["half"]["pass_at_2"] == 1.0
    assert got["half"]["pass_at_3"] is None
    assert got["tiny"]["pass_at_2"] == 1.0 and got["tiny"]["pass_at_3"] is None
    assert got["one"]["pass_at_1"] == 0.0
    assert got["one"]["pass_at_2"] is None and got["one"]["pass_at_3"] is None
    # unbiasedness beats the naive plug-in: n=4 attempts c=2, pass@2 exact
    # is 1 - C(2,2)/C(4,2) = 5/6, not 1-(1-0.5)^2 = 0.75
    df2 = spark.createDataFrame(
        [("u", "purchase"), ("u", "purchase"), ("u", "click"), ("u", "click")],
        ["user_id", "event_type"],
    )
    (r,) = pass_at_k_frame(df2).collect()
    assert r["pass_at_2"] == _round_repr(5 / 6)


# ------------------------------------------------------------- advantage

def test_group_advantage_replica_exact_moments(spark):
    ev = pq.read_table(
        f"{SF}/events.parquet",
        columns=["event_id", "user_id", "event_type", "value"],
    ).to_pylist()
    groups = defaultdict(list)
    milli = {}
    for r in ev:
        x = int(_round_repr(r["value"] * ADV_SCALE, 0))
        milli[r["event_id"]] = (r["user_id"], r["event_type"], x)
        groups[(r["user_id"], r["event_type"])].append(x)
    want = {}
    for eid, (u, t, x) in milli.items():
        xs = groups[(u, t)]
        n, s1, s2 = len(xs), sum(xs), sum(v * v for v in xs)
        disc = n * s2 - s1 * s1
        mean = _round_repr(s1 / n / ADV_SCALE)
        std = _round_repr(math.sqrt(disc) / n / ADV_SCALE)
        adv = (
            _round_repr((n * x - s1) / math.sqrt(disc))
            if n >= 2 and disc > 0
            else 0.0
        )
        want[eid] = (u, t, x, n, mean, std, adv)
    got = {
        r["event_id"]: (
            r["user_id"], r["event_type"], r["reward_milli"], r["group_n"],
            r["group_mean"], r["group_std"], r["advantage"],
        )
        for r in q_group_advantage_normalize(spark, SF).collect()
    }
    assert got == want and want
    # normalized: per-group advantages sum to ~0 and have ~unit variance
    by_group = defaultdict(list)
    for u, t, _x, _n, _m, _s, a in got.values():
        by_group[(u, t)].append(a)
    for xs in by_group.values():
        if len(xs) >= 2 and any(a != 0.0 for a in xs):
            assert abs(sum(xs)) <= len(xs) * 1e-6
            # advantage = (x−μ)/σ_pop ⇒ Σadv² = n exactly pre-rounding
            var = sum(a * a for a in xs)
            assert abs(var - len(xs)) <= len(xs) * 1e-4


def test_group_advantage_crafted_degenerates(spark):
    rows = [
        (1, "u", "solo", 5.0),            # n=1 ⇒ advantage 0
        (2, "u", "const", 2.0),           # zero variance ⇒ advantage 0
        (3, "u", "const", 2.0),
        (4, "u", "pair", 1.0),            # symmetric pair ⇒ ±1 (σ_pop = 1)
        (5, "u", "pair", 3.0),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "event_type", "value"]
    )
    got = {r["event_id"]: r.asDict() for r in group_advantage_frame(df).collect()}
    assert got[1]["advantage"] == 0.0 and got[1]["group_n"] == 1
    assert got[2]["advantage"] == 0.0 and got[3]["advantage"] == 0.0
    assert got[2]["group_std"] == 0.0
    # (n·x−S1)/√(n·S2−S1²) for {1000,3000}: (2000−4000)/√(2·10⁷−16·10⁶) = −1
    assert got[4]["advantage"] == -1.0
    assert got[5]["advantage"] == 1.0
    assert got[4]["group_mean"] == 2.0
