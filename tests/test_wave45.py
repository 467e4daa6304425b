"""Wave 45: Heaps'-law vocabulary-growth fit + per-source log-odds
keyness + assistant verbosity trend.

Independent evidence beyond the DuckDB oracles: pure-Python replays of
all three (bucket banding, log-odds math, least-squares sums) over the
real corpora, plus crafted transcripts pinning the trend-sign and
NULL-slope semantics."""

import math
from collections import Counter, defaultdict

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    HEAPS_BUCKETS,
    KEYNESS_TOP_K,
    TRANSCRIPTS_PQ,
    q_assistant_verbosity_trend,
    q_heaps_law_fit,
    q_source_keyness,
    verbosity_trend_frame,
)

from .replicas import _toks

SF = "/root/testdata/sf0.001"


# ------------------------------------------------------------- heaps law

def test_heaps_replica_on_corpus(spark):
    docs = pq.read_table(
        f"{SF}/documents.parquet", columns=["doc_id", "text"]
    ).to_pylist()
    ids = [d["doc_id"] for d in docs]
    lo, span = min(ids), max(ids) - min(ids) + 1

    def bucket(i):
        return min(HEAPS_BUCKETS - 1, ((i - lo) * HEAPS_BUCKETS) // span)

    mass = Counter()
    first = {}
    for d in sorted(docs, key=lambda r: r["doc_id"]):
        ts = _toks(d["text"])
        mass[bucket(d["doc_id"])] += len(ts)
        for t in ts:
            if t not in first or d["doc_id"] < first[t]:
                first[t] = d["doc_id"]
    fresh = Counter(bucket(i) for i in first.values())
    cum_tok = cum_typ = 0
    want = {}
    pts = []
    for b in sorted(mass):
        cum_tok += mass[b]
        cum_typ += fresh.get(b, 0)
        want[b] = (cum_tok, cum_typ)
        if cum_tok > 0 and cum_typ > 0:
            pts.append(
                (round(math.log(cum_tok) * 1e6), round(math.log(cum_typ) * 1e6))
            )
    n = len(pts)
    sx = sum(p[0] for p in pts)
    sy = sum(p[1] for p in pts)
    sxy = sum(p[0] * p[1] for p in pts)
    sxx = sum(p[0] * p[0] for p in pts)
    beta = round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
    lnk = round((sy / 1e6 - beta * sx / 1e6) / n, 6)

    got = {r["bucket"]: r.asDict() for r in q_heaps_law_fit(spark, SF).collect()}
    assert set(got) == set(want)
    for b, (ct, cy) in want.items():
        assert got[b]["cum_tokens"] == ct
        assert got[b]["cum_types"] == cy
        assert got[b]["heaps_beta"] == beta
        assert got[b]["heaps_lnk"] == lnk
    # growth properties: cumulative counts are non-decreasing and end at
    # the corpus totals.  The synthetic corpus has a CLOSED vocabulary
    # (every type appears in bucket 0), so beta is exactly 0 — the
    # template-duplication signal this diagnostic exists to flag; real
    # prose sits in (0, 1) (pinned by the crafted test below).
    assert got[max(got)]["cum_types"] == len(first)
    assert got[max(got)]["cum_tokens"] == sum(mass.values())
    assert 0.0 <= beta < 1.0


def test_heaps_crafted_growing_vocabulary(spark):
    # 16 tokens per doc with V(n) = floor(4*sqrt(n)) new types overall —
    # a textbook Heaps curve (K=4, beta=0.5), so the fitted beta must be
    # positive and sub-linear, and lnK must place the curve through the
    # points.
    rows = []
    nxt = 0
    for i in range(32):
        new = int(4 * math.sqrt(16 * (i + 1))) - int(4 * math.sqrt(16 * i))
        toks = [f"w{nxt + j}" for j in range(new)]
        nxt += new
        toks += ["shared"] * (16 - new)
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    from readability_1_spark.queries import heaps_frame

    got = sorted(
        (r.asDict() for r in heaps_frame(df).collect()),
        key=lambda r: r["bucket"],
    )
    assert len(got) == HEAPS_BUCKETS
    types = [r["cum_types"] for r in got]
    assert types == sorted(types) and types[0] < types[-1]
    beta = got[0]["heaps_beta"]
    assert 0.0 < beta < 1.0
    # the fit reproduces the mid-curve within loose log-space tolerance
    mid = got[HEAPS_BUCKETS // 2]
    pred = got[0]["heaps_lnk"] + beta * math.log(mid["cum_tokens"])
    assert abs(pred - math.log(mid["cum_types"])) < 0.25


# -------------------------------------------------------------- keyness

def test_source_keyness_replica(spark):
    docs = pq.read_table(
        f"{SF}/documents.parquet", columns=["source", "text"]
    ).to_pylist()
    st = Counter()
    for d in docs:
        for t in _toks(d["text"]):
            st[(d["source"], t)] += 1
    tok_tot = Counter()
    src_tot = Counter()
    for (s, t), c in st.items():
        tok_tot[t] += c
        src_tot[s] += c
    n_all = sum(st.values())
    per_src = defaultdict(list)
    for (s, t), a in st.items():
        big_a = src_tot[s]
        b = tok_tot[t] - a
        big_b = n_all - big_a - b
        key = round(
            (math.log((a + 1) / (big_a - a + 1))
             - math.log((b + 1) / (big_b + 1))) * 1e6
        )
        per_src[s].append((-key, t, a, tok_tot[t], key))
    want = {}
    for s, rows in per_src.items():
        for rank, (_, t, a, tt, key) in enumerate(sorted(rows)[:KEYNESS_TOP_K], 1):
            want[(s, rank)] = (t, a, tt, key)

    got = {
        (r["source"], r["rank"]): (
            r["tok"], r["tf_source"], r["tf_corpus"], r["keyness_micro"]
        )
        for r in q_source_keyness(spark, SF).collect()
    }
    assert got == want
    # every source contributes exactly TOP_K rows on this corpus
    assert len(got) == len(per_src) * KEYNESS_TOP_K


# ------------------------------------------------------ verbosity trend

def test_verbosity_replica_on_transcripts(spark):
    rows = pq.read_table(TRANSCRIPTS_PQ).to_pylist()
    per = defaultdict(list)
    for r in rows:
        if r["role"] == "assistant" and r["text"] is not None:
            per[r["conv_id"]].append((r["turn_idx"], len(_toks(r["text"]))))
    want = {}
    for cid, ts in per.items():
        ys = [y for _, y in sorted(ts)]
        n = len(ys)
        sx = n * (n + 1) // 2
        sy = sum(ys)
        sxy = sum((i + 1) * y for i, y in enumerate(ys))
        sxx = sum((i + 1) ** 2 for i in range(n))
        num = n * sxy - sx * sy
        den = n * sxx - sx * sx
        slope = round(num / den, 6) if n >= 2 else None
        trend = (
            None if n < 2
            else "expanding" if num > 0
            else "contracting" if num < 0
            else "flat"
        )
        want[cid] = (n, sy, round(sy / n, 6), slope, trend)

    got = {
        r["conv_id"]: (
            r["n_assistant_turns"], r["total_tokens"], r["mean_tokens"],
            r["slope_tokens_per_turn"], r["trend"],
        )
        for r in q_assistant_verbosity_trend(spark, SF).collect()
    }
    assert got == want
    assert len(got) > 0


def test_verbosity_crafted_trends(spark):
    import datetime as dt

    base = dt.datetime(2025, 1, 1)
    rows = []
    # expanding: 2, 12, 22 tokens; contracting: 30, 20, 10; flat: 5,5;
    # single assistant turn -> NULL slope; user turns never counted
    for cid, counts in (
        ("c_up", [2, 12, 22]),
        ("c_down", [30, 20, 10]),
        ("c_flat", [5, 5]),
        ("c_one", [7]),
    ):
        for i, k in enumerate(counts):
            rows.append((cid, 2 * i, "user", "ignore me totally", None, base))
            rows.append((cid, 2 * i + 1, "assistant", " ".join(["w"] * k), None, base))
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    got = {r["conv_id"]: r.asDict() for r in verbosity_trend_frame(df).collect()}
    assert got["c_up"]["trend"] == "expanding"
    assert got["c_up"]["slope_tokens_per_turn"] == 10.0
    assert got["c_down"]["trend"] == "contracting"
    assert got["c_down"]["slope_tokens_per_turn"] == -10.0
    assert got["c_flat"]["trend"] == "flat"
    assert got["c_flat"]["slope_tokens_per_turn"] == 0.0
    assert got["c_one"]["slope_tokens_per_turn"] is None
    assert got["c_one"]["trend"] is None
    assert got["c_one"]["n_assistant_turns"] == 1
