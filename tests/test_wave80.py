"""Wave 80: chrF pair scores, join-cardinality estimation audit,
Kaplan-Meier reorder survival.

Independent evidence beyond the DuckDB oracles: a pure-Python clipped
char-n-gram replica seeded from the oracle-verified LSH candidate list
(plus an identical-document corpus where chrF must be exactly 1); a
Counter-based exact-join-size replica checked against the actual
materialized join; and a Decimal product-limit replica of the KM chain
with the survival-monotonicity and risk-set-conservation invariants."""

import math
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    CHRF_BETA2,
    CHRF_MAX_N,
    q_chrf_pair_scores,
    q_dedup_minhash_lsh,
    q_join_cardinality_estimate,
    q_kaplan_meier_retention,
)

from .replicas import _round6

SF = "/root/testdata/sf0.001"


# --------------------------------------------------- chrF


def _norm(text):
    return "".join(ch for ch in text.lower() if ch.isascii() and
                   (ch.isdigit() or "a" <= ch <= "z"))


def _grams(s, n):
    return Counter(s[i : i + n] for i in range(len(s) - n + 1))


def test_chrf_replica(spark):
    texts = {
        r["doc_id"]: _norm(r["text"])
        for r in pq.read_table(f"{SF}/documents.parquet").to_pylist()
    }
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in q_dedup_minhash_lsh(spark, SF).collect()
    }
    rows = q_chrf_pair_scores(spark, SF).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in rows} == cand
    for r in rows:
        sa, sb = texts[r["doc_a"]], texts[r["doc_b"]]
        fs = []
        for n in range(1, CHRF_MAX_N + 1):
            ga, gb = _grams(sa, n), _grams(sb, n)
            ov = sum(min(ca, gb[g]) for g, ca in ga.items())
            na, nb = max(len(sa) - n + 1, 0), max(len(sb) - n + 1, 0)
            assert r[f"ov{n}"] == ov
            assert (r[f"n{n}_a"], r[f"n{n}_b"]) == (na, nb)
            f = _round6((1 + CHRF_BETA2) * ov / (CHRF_BETA2 * na + nb))
            assert r[f"chrf{n}"] == f
            fs.append(f)
        assert r["chrf"] == _round6(sum(fs) / CHRF_MAX_N)
        assert 0.0 <= r["chrf"] <= 1.0


def test_chrf_identical_docs(spark, tmp_path):
    """Byte-identical docs share every shingle (guaranteed candidacy)
    and every char n-gram: chrF must be exactly 1.0; a disjoint doc
    pairs with neither."""
    t = "the quick brown fox jumps over the lazy dog again and again"
    spark.createDataFrame(
        [(1, t), (2, t), (3, "zzz " * 40)],
        "doc_id long, text string",
    ).write.parquet(f"{tmp_path}/documents.parquet")
    rows = q_chrf_pair_scores(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["chrf1"] == r["chrf2"] == r["chrf3"] == r["chrf"] == 1.0


# --------------------------------------------------- join cardinality


def test_join_cardinality_replica(spark):
    cust = [
        r["c_custkey"]
        for r in pq.read_table(f"{SF}/customer.parquet").to_pylist()
    ]
    orders = [
        r["o_custkey"]
        for r in pq.read_table(f"{SF}/orders.parquet").to_pylist()
    ]
    part = [
        r["p_partkey"]
        for r in pq.read_table(f"{SF}/part.parquet").to_pylist()
    ]
    li = [
        r["l_partkey"]
        for r in pq.read_table(f"{SF}/lineitem.parquet").to_pylist()
    ]
    rows = {r["join_name"]: r for r in
            q_join_cardinality_estimate(spark, SF).collect()}
    for name, left, right in (
        ("customer_x_orders_on_custkey", cust, orders),
        ("part_x_lineitem_on_partkey", part, li),
    ):
        cl, cr = Counter(left), Counter(right)
        exact = sum(c * cr[k] for k, c in cl.items())
        # the estimate formula and the true materialized size
        est = len(left) * len(right) // max(len(cl), len(cr))
        prods = {k: c * cr[k] for k, c in cl.items() if cr[k]}
        top_key = min(prods, key=lambda k: (-prods[k], k))
        r = rows[name]
        assert (
            r["n_left"],
            r["n_right"],
            r["d_left"],
            r["d_right"],
            r["exact_rows"],
            r["est_rows"],
            r["top_key"],
            r["top_key_rows"],
        ) == (
            len(left),
            len(right),
            len(cl),
            len(cr),
            exact,
            est,
            top_key,
            prods[top_key],
        )
        assert r["err_ratio"] == _round6(exact / est)
        # exact_rows really is the materialized join size
        joined = sum(cr[k] for k in left)
        assert exact == joined


# --------------------------------------------------- Kaplan-Meier


def test_kaplan_meier_replica(spark):
    recs = pq.read_table(f"{SF}/orders.parquet").to_pylist()
    by_cust = defaultdict(list)
    for r in recs:
        by_cust[r["o_custkey"]].append(r["o_orderdate"])
    end = max(d for ds in by_cust.values() for d in ds)
    durs = []  # (t, is_event)
    for ds in by_cust.values():
        ds.sort()
        for a, b in zip(ds, ds[1:]):
            durs.append(((b.date() - a.date()).days, 1))
        durs.append(((end.date() - ds[-1].date()).days, 0))
    per_t = defaultdict(lambda: [0, 0])
    for t, ev in durs:
        per_t[t][0] += ev
        per_t[t][1] += 1 - ev
    n = len(durs)
    removed = 0
    surv = Decimal("1.0")
    want = {}
    for t in sorted(per_t):
        d, c = per_t[t]
        n_t = n - removed
        if d > 0:
            factor = _round6(1 - d / n_t)
            surv = Decimal(
                repr(float(surv) * factor)
            ).quantize(Decimal("0.000001"), ROUND_HALF_UP)
            want[t] = (n_t, d, c, float(surv))
        removed += d + c
    rows = q_kaplan_meier_retention(spark, SF).collect()
    assert len(rows) == len(want)
    prev_t, prev_s, prev_n = -1, 1.0 + 1e-9, n + 1
    for r in sorted(rows, key=lambda r: r["t_days"]):
        n_t, d, c, s = want[r["t_days"]]
        assert (
            r["n_risk"],
            r["n_events"],
            r["n_censored_at_t"],
            r["survival"],
        ) == (n_t, d, c, s)
        # survival is non-increasing, risk set strictly shrinking
        assert r["t_days"] > prev_t
        assert r["survival"] <= prev_s
        assert r["n_risk"] < prev_n
        prev_t, prev_s, prev_n = r["t_days"], r["survival"], r["n_risk"]
    assert all(0.0 <= r["survival"] <= 1.0 for r in rows)


def test_kaplan_meier_crafted_censoring(spark, tmp_path):
    """3 customers, hand-computable: gaps 10 (event), 10 (event), and
    censored waits.  Without censoring-correctness the 30-day survivor
    would read as churn."""
    import datetime

    d0 = datetime.datetime(2024, 1, 1)

    def dt(days):
        return d0 + datetime.timedelta(days=days)

    rows = [
        # cust 1: orders at 0, 10 -> event t=10, censored wait t=20
        (1, 1, "O", 1.0, dt(0), "1-URGENT"),
        (2, 1, "O", 1.0, dt(10), "1-URGENT"),
        # cust 2: orders at 0, 10 -> event t=10, censored wait t=20
        (3, 2, "O", 1.0, dt(0), "1-URGENT"),
        (4, 2, "O", 1.0, dt(10), "1-URGENT"),
        # cust 3: one order at 0 -> censored wait t=30 (corpus end)
        (5, 3, "O", 1.0, dt(0), "1-URGENT"),
        (6, 4, "O", 1.0, dt(30), "1-URGENT"),  # sets the end date
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, "
        "o_orderpriority string",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    out = {r["t_days"]: r for r in
           q_kaplan_meier_retention(spark, str(tmp_path)).collect()}
    # subjects: events t=10 (x2); censored t=20 (x2), t=30 (x2: cust 3
    # wait and cust 4's zero... cust 4 wait t=0 censored)
    # at t=10: removed before = 1 censored at t=0 (cust 4) -> n=5
    assert set(out) == {10}
    r = out[10]
    assert (r["n_risk"], r["n_events"], r["n_censored_at_t"]) == (5, 2, 0)
    assert r["survival"] == _round6(1 - 2 / 5)
