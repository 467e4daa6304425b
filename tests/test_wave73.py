"""Wave 73: dedup candidate-graph degree histogram, event day-of-week
seasonality grid, RFM customer segmentation.

Independent evidence beyond the DuckDB oracles: a pure-hashlib replica
of the full minhash->band->bucket->pair->degree chain plus the
sum(n_docs) == corpus-size reconciliation; an exact grid replica plus a
crafted single-day corpus pinning the zero-observed dow cells; and a
pure-Python ntile replica (remainder-to-leading-buckets semantics) plus
a crafted corpus where every quintile and the cent rounding of a
binary-inexact price are computed on paper."""

import datetime
import hashlib
import re
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    N_BANDS,
    N_MINHASH,
    q_customer_rfm_scores,
    q_dup_graph_degree_stats,
    q_event_dow_seasonality,
)

from .replicas import _round6

SF = "/root/testdata/sf0.001"


def _round0(x):
    return int(Decimal(repr(float(x))).quantize(Decimal("1"), ROUND_HALF_UP))


# --------------------------------------------------- degree stats


def _lsh_pairs_replica(texts):
    per_band = N_MINHASH // N_BANDS
    buckets = defaultdict(list)
    n_docs = 0
    for doc_id, text in texts.items():
        n_docs += 1
        ws = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        sh = {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}
        if not sh:
            continue
        mh = [
            min(hashlib.md5(f"{s}:{x}".encode()).hexdigest() for x in sh)
            for s in range(N_MINHASH)
        ]
        for band in range(N_BANDS):
            sig = hashlib.md5(
                ",".join(mh[band * per_band : (band + 1) * per_band]).encode()
            ).hexdigest()
            buckets[(band, sig)].append(doc_id)
    pairs = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                pairs.add((ids[i], ids[j]))
    return pairs, n_docs


def test_degree_stats_replica_real_corpus(spark):
    texts = {
        r["doc_id"]: r["text"]
        for r in pq.read_table(f"{SF}/documents.parquet").to_pylist()
    }
    pairs, n_docs = _lsh_pairs_replica(texts)
    deg = defaultdict(int)
    for a, b in pairs:
        deg[a] += 1
        deg[b] += 1
    hist = defaultdict(int)
    for d in texts:
        hist[deg.get(d, 0)] += 1
    rows = q_dup_graph_degree_stats(spark, SF).collect()
    got = {r["degree"]: r["n_docs"] for r in rows}
    assert got == dict(hist)
    # coverage reconciliation: every document lands in exactly one bin
    assert sum(got.values()) == n_docs
    assert 0 in got  # the corpus is not all-duplicates


# --------------------------------------------------- dow seasonality


def test_dow_grid_replica_real_corpus(spark):
    ev = pq.read_table(
        f"{SF}/events.parquet", columns=["event_type", "ts"]
    ).to_pylist()
    obs = defaultdict(int)
    n_type = defaultdict(int)
    for r in ev:
        # Spark dayofweek: 1 = Sunday .. 7 = Saturday
        dow = (r["ts"].weekday() + 1) % 7 + 1
        obs[(r["event_type"], dow)] += 1
        n_type[r["event_type"]] += 1
    rows = q_event_dow_seasonality(spark, SF).collect()
    assert len(rows) == len(n_type) * 7
    for r in rows:
        t, d = r["event_type"], r["dow"]
        e = (1000000 * n_type[t]) // 7
        assert r["observed"] == obs.get((t, d), 0)
        assert (r["n_type"], r["expected_mu"]) == (n_type[t], e)
        num = r["observed"] * 1000000 - e
        assert r["chi2_contrib"] == _round6(num * num / (e * 1000000.0))


def test_dow_crafted_zero_cells(spark, tmp_path):
    """One type entirely on a single Monday: six zero-observed cells
    must still appear, each carrying expected_mu = n//7 and the full
    chi-square mass split 6-vs-1."""
    monday = datetime.datetime(2024, 1, 1, 12, 0, 0)  # a Monday -> dow 2
    rows = [
        (i, monday, 1, "solo", 0.0, "{}") for i in range(14)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    out = q_event_dow_seasonality(spark, str(tmp_path)).collect()
    assert len(out) == 7
    by_dow = {r["dow"]: r for r in out}
    assert by_dow[2]["observed"] == 14
    assert all(by_dow[d]["observed"] == 0 for d in (1, 3, 4, 5, 6, 7))
    e = (1000000 * 14) // 7
    assert all(r["expected_mu"] == e for r in out)
    assert by_dow[1]["chi2_contrib"] == _round6(e * e / (e * 1000000.0))


# --------------------------------------------------- RFM


def _ntile5(keyed):
    """keyed: list of (metric, custkey) -> {custkey: bucket 1..5} with
    remainder rows in the leading buckets (Spark/DuckDB ntile)."""
    s = sorted(keyed)
    n = len(s)
    base, rem = divmod(n, 5)
    out = {}
    idx = 0
    for b in range(1, 6):
        size = base + (1 if b <= rem else 0)
        for _ in range(size):
            if idx < n:
                out[s[idx][1]] = b
                idx += 1
    return out


def _rfm_replica(orders, cust_seg):
    max_date = max(r["o_orderdate"] for r in orders)
    per = {}
    for r in orders:
        c = r["o_custkey"]
        p = per.setdefault(c, [None, 0, 0])
        d = r["o_orderdate"]
        p[0] = d if p[0] is None or d > p[0] else p[0]
        p[1] += 1
        p[2] += _round0(r["o_totalprice"] * 100)
    rows = {}
    by_seg = defaultdict(list)
    for c, (last, freq, cents) in per.items():
        seg = cust_seg[c]
        rec = (max_date.date() - last.date()).days
        rows[c] = [seg, rec, freq, cents]
        by_seg[seg].append(c)
    scores = {}
    for seg, members in by_seg.items():
        r_n = _ntile5([(rows[c][1], c) for c in members])
        f_n = _ntile5([(rows[c][2], c) for c in members])
        m_n = _ntile5([(rows[c][3], c) for c in members])
        for c in members:
            scores[c] = (6 - r_n[c], f_n[c], m_n[c])
    return rows, scores


def test_rfm_replica_real_corpus(spark):
    orders = pq.read_table(f"{SF}/orders.parquet").to_pylist()
    cust_seg = {
        r["c_custkey"]: r["c_mktsegment"]
        for r in pq.read_table(f"{SF}/customer.parquet").to_pylist()
    }
    want_rows, want_scores = _rfm_replica(orders, cust_seg)
    rows = q_customer_rfm_scores(spark, SF).collect()
    assert len(rows) == len(want_rows)
    for r in rows:
        c = r["custkey"]
        seg, rec, freq, cents = want_rows[c]
        rs, fs, ms = want_scores[c]
        assert (
            r["c_mktsegment"],
            r["recency_days"],
            r["frequency"],
            r["monetary_cents"],
        ) == (seg, rec, freq, cents)
        assert (r["r_score"], r["f_score"], r["m_score"]) == (rs, fs, ms)
        assert r["rfm_cell"] == rs * 100 + fs * 10 + ms


def test_rfm_crafted_quintiles(spark, tmp_path):
    """Five customers in one segment with strictly increasing recency,
    frequency, and spend: every quintile has exactly one member, the
    most recent / highest-spend customer scores 555, the stalest 111.
    Customer 6 (other segment) is ranked only against itself -> 511
    (recency ntile 1 -> r = 5; single-member f/m ntiles = 1).  The
    binary-inexact price 0.29 must round to exactly 29 cents."""
    base = datetime.datetime(2024, 1, 1)
    orows = []
    oid = 0
    for c in range(1, 6):
        # customer c: last order (c-1) days before anchor, c orders,
        # each 100.29 -> cents = c * 10029
        for k in range(c):
            oid += 1
            orows.append(
                (
                    oid,
                    c,
                    "O",
                    100.29,
                    base + datetime.timedelta(days=30 - (c - 1) - k),
                    "1-URGENT",
                )
            )
    oid += 1
    orows.append((oid, 6, "O", 0.29, base, "1-URGENT"))
    spark.createDataFrame(
        orows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        [(c, f"c{c}", 0, 0.0, "SEG_A" if c <= 5 else "SEG_B")
         for c in range(1, 7)],
        "c_custkey long, c_name string, c_nationkey long, c_acctbal double,"
        " c_mktsegment string",
    ).write.parquet(f"{tmp_path}/customer.parquet")
    out = {r["custkey"]: r for r in
           q_customer_rfm_scores(spark, str(tmp_path)).collect()}
    assert len(out) == 6
    for c in range(1, 6):
        r = out[c]
        assert r["recency_days"] == c - 1
        assert r["frequency"] == c
        assert r["monetary_cents"] == c * 10029
        # recency grows with c (worse) while f/m grow with c (better)
        assert (r["r_score"], r["f_score"], r["m_score"]) == (6 - c, c, c)
    r6 = out[6]
    assert r6["monetary_cents"] == 29
    assert (r6["r_score"], r6["f_score"], r6["m_score"]) == (5, 1, 1)
    assert r6["rfm_cell"] == 511
