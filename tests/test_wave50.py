"""Wave 50: HITS hubs/authorities over the bipartite page→host graph,
TPC-H Q22-shape idle high-balance customers, T5 span-corruption planning.

Independent evidence beyond the DuckDB oracles: a pure-Python integer
HITS replica on a crafted bipartite graph (value-exact) plus structural
invariants on the real link corpus, a cents-exact Q22 replica over the
real sf tables pinning both integer thresholds (balance average AND the
epoch-microsecond recency cutoff), and a full span-plan replica with
the no-overlap / mass-conservation invariants on every document."""

import hashlib
import re
from collections import defaultdict

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    HITS_ITERS,
    HITS_SCALE,
    IDLE_RECENT_PCT,
    SENTINEL_BASE,
    SPAN_MEAN_LEN,
    SPAN_MIN_TOKENS,
    SPAN_NOISE_PCT,
    TOKEN_SPLIT,
    _host_hits_from,
    idle_customer_frame,
    q_idle_customer_balance,
    q_outlink_host_hits,
    q_span_corruption_plan,
    span_corruption_frame,
)

from .replicas import _round_repr

SF = "/root/testdata/sf0.001"


def _md5_poly(s: str) -> int:
    h = hashlib.md5(s.encode()).hexdigest()
    acc = 0
    for i in range(8):
        acc = acc * 31 + ord(h[i])
    return acc


# ------------------------------------------------------------- HITS


def _py_hits(edges, iters=HITS_ITERS, scale=HITS_SCALE):
    """Pure-Python integer replica of _host_hits_from's contract."""
    pages = sorted({p for p, _ in edges})
    hub = {p: scale for p in pages}
    auth = {}
    for _ in range(iters):
        araw = defaultdict(int)
        for p, h in edges:
            araw[h] += hub[p]
        atot = sum(araw.values())
        auth = {h: (v * scale) // atot for h, v in araw.items()}
        hraw = defaultdict(int)
        for p, h in edges:
            hraw[p] += auth[h]
        htot = sum(hraw.values())
        hub = {p: (v * scale) // htot for p, v in hraw.items()}
    npages = defaultdict(int)
    for _, h in edges:
        npages[h] += 1
    return {h: (npages[h], auth.get(h, 0)) for h in npages}


def test_hits_frame_matches_integer_replica(spark):
    """Crafted bipartite graph through _host_hits_from == the replica,
    value-exact: a 'good hub' page linking three hosts, a one-link page,
    and a host cited by both must out-rank a host cited once by the
    weak hub."""
    rows = [
        ("c1", 0, "big.example"),
        ("c1", 0, "mid.example"),
        ("c1", 0, "small.example"),
        ("c2", 1, "big.example"),
        ("c3", 2, "lonely.example"),
    ]
    ph = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, host string"
    ).localCheckpoint(eager=True)
    got = {
        r["host"]: (r["n_pages"], r["auth_units"])
        for r in _host_hits_from(ph).collect()
    }
    edges = [(f"{c}\t{t}", h) for c, t, h in rows]
    exp = _py_hits(edges)
    assert got == exp
    # structure: the doubly-cited host dominates; every host has mass
    assert got["big.example"][1] == max(v[1] for v in got.values())
    assert all(v[1] > 0 for v in got.values())
    # L1 contract: authority mass sums to at most HITS_SCALE (floor loss)
    assert sum(v[1] for v in got.values()) <= HITS_SCALE


def test_hits_query_runs_on_real_corpus(spark):
    rows = q_outlink_host_hits(spark, SF).collect()
    assert len(rows) > 100
    assert sum(r["auth_units"] for r in rows) <= HITS_SCALE
    # heavily-cited hosts carry positive authority; mass concentrates
    top = max(rows, key=lambda r: r["auth_units"])
    assert top["auth_units"] > 0 and top["n_pages"] > 1


# ----------------------------------------------- idle customer balance


def test_idle_customer_balance_replica(spark):
    cust = pq.read_table(f"{SF}/customer.parquet").to_pylist()
    orders = pq.read_table(f"{SF}/orders.parquet").to_pylist()
    import datetime

    epoch = datetime.datetime(1970, 1, 1)

    def _eus(dt):
        # wall-clock micros from the NTZ epoch (.timestamp() would apply
        # the LOCAL timezone — the exact bug the operator avoids)
        return int((dt - epoch).total_seconds() * 1_000_000)

    all_eus = [_eus(o["o_orderdate"]) for o in orders]
    lo, hi = min(all_eus), max(all_eus)
    cut = lo + (hi - lo) * IDLE_RECENT_PCT // 100
    recent = {
        o["o_custkey"]
        for o, e in zip(orders, all_eus)
        if e >= cut
    }
    cents = {
        c["c_custkey"]: int(_round_repr(c["c_acctbal"] * 100, 0))
        for c in cust
    }
    pos = [v for v in cents.values() if v > 0]
    thr = sum(pos) // len(pos)
    seg = defaultdict(list)
    for c in cust:
        if cents[c["c_custkey"]] > thr and c["c_custkey"] not in recent:
            seg[c["c_mktsegment"]].append(cents[c["c_custkey"]])
    want = {
        s: (
            len(v),
            sum(v),
            _round_repr(sum(v) / (len(v) * 100.0)),
        )
        for s, v in seg.items()
    }
    got = {
        r["c_mktsegment"]: (
            r["n_customers"],
            r["total_bal_cents"],
            r["avg_bal"],
        )
        for r in q_idle_customer_balance(spark, SF).collect()
    }
    assert got == want
    assert len(got) >= 1  # non-empty at this SF (recency makes it so)


def test_idle_customer_branches(spark):
    """Crafted corpus pins every branch: below-threshold rich-enough-but-
    recent, negative balance, and the idle winner."""
    import datetime

    d = datetime.datetime
    cust = spark.createDataFrame(
        [
            (1, "AUTO", 100.00),   # above avg, idle -> kept
            (2, "AUTO", 100.00),   # above avg, recent order -> dropped
            (3, "BIKE", 10.00),    # below avg -> dropped
            (4, "BIKE", -50.00),   # negative (excluded from avg) -> dropped
        ],
        "c_custkey long, c_mktsegment string, c_acctbal double",
    )
    # avg over positive balances = (10000 + 10000 + 1000) // 3 = 7000 cents
    orders = spark.createDataFrame(
        [
            (2, d(2024, 12, 30)),  # recent (cutoff at 75% of 2024)
            (1, d(2024, 1, 1)),    # old
            (3, d(2024, 12, 31)),
        ],
        "o_custkey long, o_orderdate timestamp_ntz",
    )
    got = {
        r["c_mktsegment"]: (r["n_customers"], r["total_bal_cents"])
        for r in idle_customer_frame(cust, orders).collect()
    }
    assert got == {"AUTO": (1, 10000)}


# ---------------------------------------------- span corruption plan


def _words(text: str):
    return [w for w in re.split(TOKEN_SPLIT, (text or "").lower()) if w]


def _span_replica(doc_id: int, text: str):
    n = len(_words(text))
    n_corrupt = n * SPAN_NOISE_PCT // 100
    if not (n >= SPAN_MIN_TOKENS and n_corrupt >= 1):
        return [(doc_id, n, "skip", None, None, None, None)]
    n_spans = max(1, n_corrupt // SPAN_MEAN_LEN)
    seg = n // n_spans
    out = []
    for k in range(n_spans):
        ln = n_corrupt // n_spans + (1 if k < n_corrupt % n_spans else 0)
        room = max(seg - ln + 1, 1)
        start = k * seg + _md5_poly(f"{doc_id}:{k}") % room
        out.append(
            (doc_id, n, "plan", k, start, ln, SENTINEL_BASE + k)
        )
    return out


def test_span_corruption_replica_and_invariants(spark):
    docs = pq.read_table(f"{SF}/documents.parquet").to_pylist()
    want = sorted(
        row for d in docs for row in _span_replica(d["doc_id"], d["text"])
    )
    got = sorted(
        (
            r["doc_id"], r["n_tokens"], r["status"], r["span_idx"],
            r["start_tok"], r["len_tok"], r["sentinel_id"],
        )
        for r in q_span_corruption_plan(spark, SF).collect()
    )
    assert got == want
    # invariants on every planned doc: spans sorted by idx never overlap,
    # stay in-bounds, and corrupted mass == n*PCT//100 exactly
    by_doc = defaultdict(list)
    for row in got:
        if row[2] == "plan":
            by_doc[row[0]].append(row)
    assert by_doc, "corpus must contain plannable docs"
    for doc_id, spans in by_doc.items():
        spans.sort(key=lambda r: r[3])
        n = spans[0][1]
        assert sum(s[5] for s in spans) == n * SPAN_NOISE_PCT // 100
        prev_end = -1
        for s in spans:
            assert s[4] > prev_end, f"overlap in doc {doc_id}"
            assert s[4] + s[5] <= n
            prev_end = s[4] + s[5] - 1
        assert [s[6] for s in spans] == [
            SENTINEL_BASE + i for i in range(len(spans))
        ]


def test_span_corruption_boundaries(spark):
    """Crafted docs pin the skip threshold and the single-span floor."""
    docs = [
        (1, " ".join(f"w{i}" for i in range(7))),   # 7 tokens -> skip
        (2, " ".join(f"w{i}" for i in range(8))),   # 8 -> 1 span, len 1
        (3, " ".join(f"w{i}" for i in range(30))),  # 30 -> 1 span, len 4
        (4, None),                                  # NULL -> skip
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(
        (
            r["doc_id"], r["n_tokens"], r["status"], r["span_idx"],
            r["start_tok"], r["len_tok"], r["sentinel_id"],
        )
        for r in span_corruption_frame(df).collect()
    )
    want = sorted(
        row for i, t in docs for row in _span_replica(i, t)
    )
    assert got == want
    stat = {r[0]: r[2] for r in got}
    assert stat == {1: "skip", 2: "plan", 3: "plan", 4: "skip"}
    lens = {r[0]: r[5] for r in got if r[2] == "plan"}
    assert lens == {2: 1, 3: 4}
