"""Wave 52: ordered-step event funnel, retention cohort triangle,
word2vec negative-sampling table.

Independent evidence beyond the DuckDB oracles: pure-Python replicas
over the real sf0.001 events/documents parquet, plus crafted corpora
pinning the funnel's strictly-after ordering rule (wrong-order and
tied-timestamp steps do NOT advance), the cohort triangle's offset-0
identity, and the ^0.75 smoothing property (weight ratios compress
count ratios)."""

import datetime
import math
import re
from collections import Counter, defaultdict

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    FUNNEL_STEPS,
    NEG_VOCAB,
    TOKEN_SPLIT,
    WEEK_US,
    event_funnel_frame,
    q_event_funnel,
    q_negative_sampling_plan,
    q_retention_cohorts,
    retention_cohort_frame,
)

from .replicas import _round_repr

SF = "/root/testdata/sf0.001"
EPOCH = datetime.datetime(1970, 1, 1)


def _eus(dt) -> int:
    return int((dt - EPOCH).total_seconds() * 1_000_000)


# ------------------------------------------------------- event funnel


def _funnel_replica(rows):
    by_user = defaultdict(list)
    for r in rows:
        if r["event_type"] in FUNNEL_STEPS:
            by_user[r["user_id"]].append((r["event_type"], _eus(r["ts"])))
    counts = []
    reached_prev = None  # user -> t_prev
    for i, step in enumerate(FUNNEL_STEPS):
        cur = {}
        for u, evs in by_user.items():
            if i > 0 and u not in reached_prev:
                continue
            ts = [
                t for s, t in evs
                if s == step and (i == 0 or t > reached_prev[u])
            ]
            if ts:
                cur[u] = min(ts)
        counts.append(len(cur))
        reached_prev = cur
    out = []
    for i, step in enumerate(FUNNEL_STEPS):
        conv_prev = (
            1.0 if i == 0
            else (round(counts[i] / counts[i - 1], 6)
                  if counts[i - 1] > 0 else None)
        )
        conv_start = round(counts[i] / counts[0], 6) if counts[0] else None
        out.append((step, i, counts[i], conv_prev, conv_start))
    return out


def test_event_funnel_replica(spark):
    rows = pq.read_table(f"{SF}/events.parquet").to_pylist()
    want = _funnel_replica(rows)
    got = [
        (r["step"], r["step_idx"], r["n_users"], r["conv_from_prev"],
         r["conv_from_start"])
        for r in q_event_funnel(spark, SF)
        .orderBy("step_idx").collect()
    ]
    assert got == want
    # the synthetic stream is dense: every step retains users
    assert all(r[2] > 0 for r in got)
    # funnel counts are monotone non-increasing
    assert got[0][2] >= got[1][2] >= got[2][2]


def test_event_funnel_ordering_semantics(spark):
    """Crafted stream pins the strictly-after rule: a click BEFORE the
    first view does not advance (but a later one does), a click at the
    SAME timestamp as the view does not advance, and a user with no view
    never enters the funnel."""
    d = datetime.datetime
    rows = [
        # u1: view -> click -> purchase, fully ordered
        (1, d(2024, 1, 1, 0, 0), 1, "view", 1.0, None),
        (2, d(2024, 1, 1, 0, 1), 1, "click", 1.0, None),
        (3, d(2024, 1, 1, 0, 2), 1, "purchase", 1.0, None),
        # u2: click before view only -> stops at view
        (4, d(2024, 1, 1, 0, 0), 2, "click", 1.0, None),
        (5, d(2024, 1, 1, 0, 1), 2, "view", 1.0, None),
        # u3: click tied with view -> tie does not advance
        (6, d(2024, 1, 1, 0, 0), 3, "view", 1.0, None),
        (7, d(2024, 1, 1, 0, 0), 3, "click", 1.0, None),
        # u4: purchase only -> never enters
        (8, d(2024, 1, 1, 0, 0), 4, "purchase", 1.0, None),
        # u5: click before AND after the view -> the later one advances
        (9, d(2024, 1, 1, 0, 0), 5, "click", 1.0, None),
        (10, d(2024, 1, 1, 0, 1), 5, "view", 1.0, None),
        (11, d(2024, 1, 1, 0, 2), 5, "click", 1.0, None),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    )
    got = {
        r["step"]: r["n_users"]
        for r in event_funnel_frame(spark, ev).collect()
    }
    assert got == {"view": 4, "click": 2, "purchase": 1}


# --------------------------------------------------- retention cohorts


def test_retention_cohorts_replica(spark):
    rows = pq.read_table(f"{SF}/events.parquet").to_pylist()
    act = {(r["user_id"], _eus(r["ts"]) // WEEK_US) for r in rows}
    cohort = {}
    for u, wk in act:
        cohort[u] = min(cohort.get(u, wk), wk)
    sizes = Counter(cohort.values())
    cells = defaultdict(set)
    for u, wk in act:
        cells[(cohort[u], wk - cohort[u])].add(u)
    want = {
        (cw, off): (
            len(us), sizes[cw], _round_repr(len(us) / sizes[cw])
        )
        for (cw, off), us in cells.items()
    }
    got = {
        (r["cohort_wk"], r["week_offset"]): (
            r["n_active"], r["cohort_users"], r["retention"]
        )
        for r in q_retention_cohorts(spark, SF).collect()
    }
    assert got == want
    # offset-0 identity: every user is active in their cohort week
    for (cw, off), (n, size, ret) in got.items():
        if off == 0:
            assert n == size and ret == 1.0


def test_retention_cohorts_crafted(spark):
    d = datetime.datetime
    wk = 7 * 24 * 3600
    base = d(2024, 1, 1)

    def at(weeks):
        return base + datetime.timedelta(seconds=weeks * wk)

    rows = [
        # cohort A (week of 2024-01-01): u1 active wk 0,1,2; u2 wk 0 only
        (1, at(0), 1, "view", 1.0, None),
        (2, at(1), 1, "view", 1.0, None),
        (3, at(2), 1, "view", 1.0, None),
        (4, at(0), 2, "view", 1.0, None),
        # cohort B (next week): u3 active wk 1, 2
        (5, at(1), 3, "view", 1.0, None),
        (6, at(2), 3, "view", 1.0, None),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    )
    got = {
        (r["cohort_wk"], r["week_offset"]): (r["n_active"], r["retention"])
        for r in retention_cohort_frame(ev).collect()
    }
    w0 = _eus(base) // WEEK_US
    assert got == {
        (w0, 0): (2, 1.0),
        (w0, 1): (1, 0.5),
        (w0, 2): (1, 0.5),
        (w0 + 1, 0): (1, 1.0),
        (w0 + 1, 1): (1, 1.0),
    }


# --------------------------------------------- negative sampling plan


def test_negative_sampling_replica(spark):
    docs = pq.read_table(f"{SF}/documents.parquet").to_pylist()
    counts = Counter(
        w
        for d in docs
        for w in re.split(TOKEN_SPLIT, (d["text"] or "").lower())
        if w
    )
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:NEG_VOCAB]
    weighted = {}
    for tok, c in top:
        w = _round_repr(math.sqrt(c * math.sqrt(c)))
        weighted[tok] = (c, int(_round_repr(w * 1_000_000, 0)))
    tot = sum(w for _, w in weighted.values())
    want = {
        tok: (c, w, (w * 1_000_000) // tot)
        for tok, (c, w) in weighted.items()
    }
    got = {
        r["token"]: (r["n_occurrences"], r["weight_micro"], r["share_micro"])
        for r in q_negative_sampling_plan(spark, SF).collect()
    }
    assert got == want
    # ^0.75 smoothing property: weight ratios compress count ratios
    items = sorted(got.values())
    lo, hi = items[0], items[-1]
    if hi[0] > lo[0]:
        assert hi[1] / lo[1] < hi[0] / lo[0]
    # shares are a (floor) distribution
    assert 0.999e6 < sum(v[2] for v in got.values()) <= 1_000_000
