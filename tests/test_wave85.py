"""Wave 85: sliding-window HLL distincts, TextTiling boundaries,
McNemar paired filter test.

Independent evidence beyond the DuckDB oracles: a pure-hashlib replica
of the daily register tables whose window-max merge must reproduce the
engine's trailing estimates exactly (estimate recomputed through the
attested estimator over replica registers); a pure-Python block-cosine
replica of the TextTiling chain plus a crafted two-topic document whose
single boundary lands exactly at the topic switch; and an exact
contingency replica of the continuity-corrected McNemar statistic."""

import hashlib
import math
import re
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    HLL_P,
    HLL_WINDOW_DAYS,
    MCNEMAR_CRIT,
    TT_BLOCK,
    TT_DEPTH_MICRO,
    TT_PEAK_W,
    hll_estimate_from_registers,
    q_doc_quality_classifier,
    q_filter_mcnemar_test,
    q_sliding_hll_users,
    q_texttiling_boundaries,
)

from .replicas import _round6

SF = "/root/testdata/sf0.001"


# --------------------------------------------------- sliding HLL


def _hll_reg(value):
    h = hashlib.md5(value.encode()).hexdigest()
    bucket = int(h[:4], 16) % (1 << HLL_P)
    suffix = h[4:16]
    stripped = suffix.lstrip("0")
    if not stripped:
        rank = 12 * 4 + 1
    else:
        d = stripped[0]
        lz = 3 if d == "1" else 2 if d in "23" else 1 if d in "4567" else 0
        rank = (len(suffix) - len(stripped)) * 4 + lz + 1
    return bucket, rank


def test_sliding_hll_replica(spark):
    evs = pq.read_table(f"{SF}/events.parquet").to_pylist()
    daily_regs = defaultdict(dict)
    daily_users = defaultdict(set)
    for r in evs:
        day = r["ts"].replace(hour=0, minute=0, second=0, microsecond=0)
        uid = str(r["user_id"])
        daily_users[day].add(uid)
        b, k = _hll_reg(uid)
        daily_regs[day][b] = max(daily_regs[day].get(b, 0), k)
    days = sorted(daily_regs)
    merged = {}
    truth = {}
    wdays = {}
    for d in days:
        window = [
            m for m in days if 0 <= (d - m).days < HLL_WINDOW_DAYS
        ]
        wdays[d] = len(window)
        regs = {}
        users = set()
        for m in window:
            users |= daily_users[m]
            for b, k in daily_regs[m].items():
                regs[b] = max(regs.get(b, 0), k)
        merged[d] = regs
        truth[d] = len(users)
    rows = {r["day"]: r for r in q_sliding_hll_users(spark, SF).collect()}
    assert set(rows) == set(days)
    # recompute the estimate from REPLICA registers through the
    # attested estimator: register-merge equality is the claim here
    reg_rows = [
        (d, b, m) for d, regs in merged.items() for b, m in regs.items()
    ]
    est_df = hll_estimate_from_registers(
        spark.createDataFrame(reg_rows, "day timestamp, bucket long, m int"),
        keys=["day"],
    )
    est = {r["day"]: r for r in est_df.collect()}
    for d in days:
        r = rows[d]
        assert r["n_window_days"] == wdays[d]
        assert r["true_distinct"] == truth[d]
        assert r["hll_estimate"] == est[d]["hll_estimate"]
        assert r["n_registers_hit"] == len(merged[d])
        assert r["rel_error"] == _round6(
            round(abs(r["hll_estimate"] - truth[d]) / truth[d], 3)
        )
        # p=11 keeps the sliding estimate honest
        assert r["rel_error"] < 0.25
    # monotone windows: trailing-7 distinct >= that day's distinct
    for d in days:
        assert truth[d] >= len(daily_users[d])


# --------------------------------------------------- TextTiling


def _tt_replica(texts):
    out = {}
    for doc_id, text in texts.items():
        ws = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        n_tokens = len(ws)
        blocks = defaultdict(lambda: defaultdict(int))
        for i, t in enumerate(ws):
            blocks[i // TT_BLOCK][t] += 1
        n_blocks = max(blocks) + 1 if blocks else 0
        sims = []
        for g in range(n_blocks - 1):
            a, b = blocks[g], blocks[g + 1]
            dot = sum(c * b[t] for t, c in a.items())
            na = math.sqrt(sum(c * c for c in a.values()))
            nb = math.sqrt(sum(c * c for c in b.values()))
            sims.append(
                int(
                    Decimal(repr(dot * 1000000.0 / (na * nb))).quantize(
                        Decimal(1), ROUND_HALF_UP
                    )
                )
            )
        depths = []
        for g, s in enumerate(sims):
            pl = max(sims[max(0, g - TT_PEAK_W) : g], default=s)
            pr = max(sims[g + 1 : g + 1 + TT_PEAK_W], default=s)
            depths.append(max(pl - s, 0) + max(pr - s, 0))
        if sims:
            mean_sim = (2 * sum(sims) + len(sims)) // (2 * len(sims))
            out[doc_id] = (
                n_tokens,
                n_blocks,
                len(sims),
                sum(1 for d in depths if d >= TT_DEPTH_MICRO),
                max(depths),
                mean_sim,
            )
        else:
            out[doc_id] = (n_tokens, n_blocks, 0, 0, 0, 0)
    return out


def test_texttiling_replica(spark):
    texts = {
        r["doc_id"]: r["text"]
        for r in pq.read_table(f"{SF}/documents.parquet").to_pylist()
    }
    want = _tt_replica(texts)
    rows = q_texttiling_boundaries(spark, SF).collect()
    assert len(rows) == len(want)
    for r in rows:
        assert (
            r["n_tokens"],
            r["n_blocks"],
            r["n_gaps"],
            r["n_boundaries"],
            r["max_depth_micro"],
            r["mean_sim_micro"],
        ) == want[r["doc_id"]], r["doc_id"]


def test_texttiling_crafted_two_topics(spark, tmp_path):
    """60 'apple' tokens then 60 'zebra' tokens: the only deep gap is
    the topic switch (blocks 2|3), depth 2e6 there."""
    text = " ".join(["apple"] * 60 + ["zebra"] * 60)
    spark.createDataFrame(
        [(1, text)], "doc_id long, text string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    rows = q_texttiling_boundaries(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["n_tokens"], r["n_blocks"], r["n_gaps"]) == (120, 6, 5)
    assert r["n_boundaries"] == 1
    assert r["max_depth_micro"] == 2_000_000
    # 4 identical-topic gaps at 1e6, one at 0 -> mean (4e6+0+...)
    assert r["mean_sim_micro"] == (2 * 4_000_000 + 5) // 10


# --------------------------------------------------- McNemar


def test_mcnemar_replica(spark):
    scored = [
        (r["pred"], r["label"])
        for r in q_doc_quality_classifier(spark, SF).collect()
    ]
    b = sum(1 for p, y in scored if p == 1 and y == 0)
    c = sum(1 for p, y in scored if p == 0 and y == 1)
    rows = q_filter_mcnemar_test(spark, SF).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_docs"] == len(scored)
    assert r["b_model_only"] == b
    assert r["c_rules_only"] == c
    assert (
        r["both_pass"] + r["b_model_only"] + r["c_rules_only"]
        + r["both_fail"]
        == r["n_docs"]
    )
    chi = (
        _round6((abs(b - c) - 1) ** 2 / (b + c)) if b + c > 0 else 0.0
    )
    assert r["mcnemar_chi"] == chi
    assert r["significant"] == (chi > MCNEMAR_CRIT)
