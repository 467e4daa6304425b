"""Wave 51: TPC-H Q15 max-with-ties supplier revenue, Bradley–Terry
preference strengths (Hunter MM, integer micro-units), Matryoshka-style
embedding dimension-truncation audit.

Independent evidence beyond the DuckDB oracles: a cents-exact Q15
replica over the real sf tables plus a crafted exact-tie corpus (the
`= max` vs `LIMIT 1` distinction), an independent pure-Python BT-MM
replay from the raw events parquet plus crafted dominance/balance
corpora pinning the model's ordering semantics, and a numpy replica of
the truncation energies with the monotonicity / full-prefix-identity
invariants."""

import datetime
from collections import defaultdict

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    BT_ITERS,
    BT_SCALE,
    MRL_DIMS,
    Q15_WINDOW_DAYS,
    bradley_terry_frame,
    q_bradley_terry_strength,
    q_embedding_dim_truncation,
    q_top_supplier_revenue,
    top_supplier_frame,
)

from .replicas import _round_repr

SF = "/root/testdata/sf0.001"


# ------------------------------------------------- Q15 top supplier


def test_top_supplier_revenue_replica(spark):
    li = pq.read_table(f"{SF}/lineitem.parquet").to_pylist()
    sup = {
        s["s_suppkey"]: s["s_name"]
        for s in pq.read_table(f"{SF}/supplier.parquet").to_pylist()
    }
    epoch = datetime.datetime(1970, 1, 1)
    eus = [int((r["l_shipdate"] - epoch).total_seconds() * 1e6) for r in li]
    lo = min(eus)
    cut = lo + Q15_WINDOW_DAYS * 86_400 * 1_000_000
    rev = defaultdict(int)
    for r, e in zip(li, eus):
        if e < cut:
            rev[r["l_suppkey"]] += int(
                _round_repr(
                    r["l_extendedprice"] * (1 - r["l_discount"]) * 100, 0
                )
            )
    mx = max(rev.values())
    want = {
        (k, sup[k], v, _round_repr(v / 100.0, 2))
        for k, v in rev.items()
        if v == mx
    }
    got = {
        (r["s_suppkey"], r["s_name"], r["revenue_cents"], r["revenue"])
        for r in q_top_supplier_revenue(spark, SF).collect()
    }
    assert got == want
    assert len(got) >= 1


def test_top_supplier_ties_all_returned(spark):
    """Two suppliers with identical windowed revenue BOTH return — the
    `= (SELECT max)` semantics a LIMIT 1 would silently break."""
    d = datetime.datetime
    li = spark.createDataFrame(
        [
            (1, d(2024, 1, 1), 100.00, 0.0),
            (2, d(2024, 1, 2), 50.00, 0.0),
            (2, d(2024, 1, 3), 50.00, 0.0),
            (3, d(2024, 1, 4), 10.00, 0.0),
            # outside the 90-day window: would make supplier 3 the top
            (3, d(2024, 12, 1), 900.00, 0.0),
        ],
        "l_suppkey long, l_shipdate timestamp_ntz, l_extendedprice double,"
        " l_discount double",
    )
    sup = spark.createDataFrame(
        [(1, "s1"), (2, "s2"), (3, "s3")], "s_suppkey long, s_name string"
    )
    got = {
        (r["s_suppkey"], r["revenue_cents"])
        for r in top_supplier_frame(li, sup).collect()
    }
    assert got == {(1, 10000), (2, 10000)}


# --------------------------------------------- Bradley-Terry strengths


def _bt_replica(rows):
    """Independent replay: match mining + integer MM from raw event rows."""
    by_user = defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append(r)
    wl = defaultdict(int)
    for u, ev in by_user.items():
        ev.sort(key=lambda r: (r["ts"], r["event_id"]))
        for a, b in zip(ev, ev[1:]):
            if (
                a["event_type"] != b["event_type"]
                and a["value"] is not None
                and b["value"] is not None
                and a["value"] != b["value"]
            ):
                if b["value"] > a["value"]:
                    wl[(b["event_type"], a["event_type"])] += 1
                else:
                    wl[(a["event_type"], b["event_type"])] += 1
    types = sorted({t for k in wl for t in k})
    n_ij = {
        (i, j): wl.get((i, j), 0) + wl.get((j, i), 0)
        for i in types
        for j in types
        if i != j and (wl.get((i, j), 0) + wl.get((j, i), 0)) > 0
    }
    wins = {t: sum(n for (i, _), n in wl.items() if i == t) for t in types}
    nm = {t: sum(n for (i, _), n in n_ij.items() if i == t) for t in types}
    nt = len(types)
    wv = {t: BT_SCALE for t in types}
    for _ in range(BT_ITERS):
        raw = {}
        for t in types:
            denom = sum(
                (n_ij[(t, j)] * 10**12) // max(wv[t] + wv[j], 1)
                for j in types
                if (t, j) in n_ij
            )
            raw[t] = (
                (wins[t] * 10**12) // denom
                if denom > 0 and wins[t] > 0
                else 0
            )
        tot = max(sum(raw.values()), 1)
        wv = {t: (raw[t] * nt * BT_SCALE) // tot for t in types}
    return {t: (wins[t], nm[t], wv[t]) for t in types}


def test_bradley_terry_replica(spark):
    rows = pq.read_table(f"{SF}/events.parquet").to_pylist()
    want = _bt_replica(rows)
    got = {
        r["event_type"]: (r["n_wins"], r["n_matches"], r["strength_micro"])
        for r in q_bradley_terry_strength(spark, SF).collect()
    }
    assert got == want
    assert len(got) == 5  # all five event types play matches
    # L1 contract: strengths renormalize to ~nt * BT_SCALE (floor loss)
    tot = sum(v[2] for v in got.values())
    assert 0.999 * len(got) * BT_SCALE < tot <= len(got) * BT_SCALE


def test_bradley_terry_dominance_ordering(spark):
    """Crafted corpus: A always beats B, B always beats C — fitted
    strengths must order A > B > C; a 50/50 pair lands equal."""
    d = datetime.datetime
    rows = []
    eid = 0

    def add(user, seq):
        nonlocal eid
        for i, (t, v) in enumerate(seq):
            rows.append((eid, d(2024, 1, 1, 0, i), user, t, float(v), None))
            eid += 1

    # 6 users: A>B, B>C chains (values pick the winner)
    for u in range(6):
        add(100 + u, [("B", 1.0), ("A", 2.0), ("C", 0.5), ("B", 1.5)])
    # balanced pair D/E: each wins once
    add(200, [("D", 1.0), ("E", 2.0)])
    add(201, [("E", 1.0), ("D", 2.0)])
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    )
    got = {
        r["event_type"]: r["strength_micro"]
        for r in bradley_terry_frame(spark, ev).collect()
    }
    assert got["A"] > got["B"] > got["C"]
    assert got["D"] == got["E"]
    # the replica agrees exactly on the crafted corpus too
    want = _bt_replica(
        [
            {
                "event_id": r[0], "ts": r[1], "user_id": r[2],
                "event_type": r[3], "value": r[4],
            }
            for r in rows
        ]
    )
    assert got == {t: v[2] for t, v in want.items()}


# ------------------------------------------ embedding dim truncation


def test_embedding_dim_truncation_replica(spark):
    import numpy as np

    tbl = pq.read_table(f"{SF}/embeddings.parquet").to_pylist()
    want = {}
    for r in tbl:
        v = [float(x) for x in r["embedding"]]
        full = 0.0
        for x in v:
            full = full + x * x  # sequential fold, matching _dot
        for k in MRL_DIMS:
            pre = 0.0
            for x in v[:k]:
                pre = pre + x * x
            want[(r["vec_id"], k)] = (
                _round_repr(pre / full),
                _round_repr(np.sqrt(pre / full)),
            )
    got = {
        (r["vec_id"], r["k"]): (r["energy_fraction"], r["cos_to_full"])
        for r in q_embedding_dim_truncation(spark, SF).collect()
    }
    assert got == want
    # invariants: energy monotone in k; the full prefix is the identity
    by_vec = defaultdict(dict)
    for (vid, k), (e, _) in got.items():
        by_vec[vid][k] = e
    for vid, es in by_vec.items():
        seq = [es[k] for k in MRL_DIMS]
        assert all(a <= b + 1e-12 for a, b in zip(seq, seq[1:]))
        assert es[64] == 1.0
    assert got[(tbl[0]["vec_id"], 64)][1] == 1.0
