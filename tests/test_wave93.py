"""Wave 93: Benford first-digit audit, customer revenue Gini.

Independent evidence beyond the DuckDB oracles: an exact-cents Python
replica of both (digit histogram + micro chi; DESC rank-sum Gini) plus
crafted extremes — a perfectly Benford-sampled value set that passes and
a uniform-first-digit set that fails; an equal-revenue book with Gini
exactly 0."""

import math
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    BENFORD_MICRO,
    q_customer_revenue_gini,
    q_order_value_benford,
)

from .replicas import _round6

SF = "/root/testdata/sf0.001"


def _r0(x):
    return int(Decimal(repr(float(x))).quantize(Decimal(1), ROUND_HALF_UP))


def _benford_replica(prices):
    obs = defaultdict(int)
    for p in prices:
        cents = _r0(p * 100)
        d = int(str(cents)[0])
        if d >= 1:
            obs[d] += 1
    n = sum(obs.values())
    rows = {}
    chi = 0.0
    for d, pm in BENFORD_MICRO.items():
        o = obs.get(d, 0)
        exp = n * pm
        contrib = _round6(
            (o * 1_000_000 - exp) ** 2 / (float(exp) * 1_000_000)
        )
        rows[d] = (o, pm, exp, contrib)
        chi += contrib
    return rows, _round6(chi)


def test_benford_replica(spark):
    prices = [
        r["o_totalprice"]
        for r in pq.read_table(f"{SF}/orders.parquet").to_pylist()
    ]
    want, chi = _benford_replica(prices)
    rows = {r["digit"]: r for r in
            q_order_value_benford(spark, SF).collect()}
    assert set(rows) == set(range(1, 10))
    for d, (o, pm, exp, contrib) in want.items():
        r = rows[d]
        assert (r["n_obs"], r["p_micro"], r["exp_micro"]) == (o, pm, exp)
        assert r["chi_contrib"] == contrib
        assert r["chi_total"] == chi
        assert r["non_benford"] == (chi > 15.507)
    assert sum(r["n_obs"] for r in rows.values()) == len(prices)


def test_benford_crafted_extremes(spark, tmp_path):
    """Uniform first digits (100 each of 1xx..9xx dollars) must fail
    Benford decisively."""
    rows = []
    k = 0
    for d in range(1, 10):
        for i in range(100):
            k += 1
            rows.append((k, 1, "O", "1-URGENT", d * 100.0 + i * 0.37))
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_orderpriority string, o_totalprice double",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    out = q_order_value_benford(spark, str(tmp_path)).collect()
    assert all(r["non_benford"] for r in out)
    assert out[0]["chi_total"] > 100  # uniform digits are wildly off


def test_gini_replica(spark):
    per = defaultdict(int)
    for r in pq.read_table(f"{SF}/orders.parquet").to_pylist():
        per[r["o_custkey"]] += _r0(r["o_totalprice"] * 100)
    cents = sorted(per.items(), key=lambda kv: (-kv[1], kv[0]))
    n = len(cents)
    s = sum(c for _, c in cents)
    js = sum((j + 1) * c for j, (_, c) in enumerate(cents))
    gini = _round6(
        (2.0 * ((n + 1) * s - js)) / (float(n) * s) - (n + 1) / float(n)
    )
    top1 = sum(c for j, (_, c) in enumerate(cents) if (j + 1) * 100 <= n)
    top10 = sum(c for j, (_, c) in enumerate(cents) if (j + 1) * 10 <= n)
    r = q_customer_revenue_gini(spark, SF).collect()[0]
    assert (r["n"], r["total_cents"]) == (n, s)
    assert r["gini"] == gini
    assert r["top1pct_share"] == _round6(top1 / s)
    assert r["top10pct_share"] == _round6(top10 / s)
    assert 0.0 <= r["gini"] <= 1.0
    assert r["top1pct_share"] <= r["top10pct_share"]


def test_gini_crafted_equal_book(spark, tmp_path):
    """Equal revenue per customer: Gini exactly 0, top-10% share
    exactly 0.1."""
    rows = [
        (i, i, "O", "1-URGENT", 250.0) for i in range(1, 101)
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_orderpriority string, o_totalprice double",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    r = q_customer_revenue_gini(spark, str(tmp_path)).collect()[0]
    assert r["n"] == 100
    assert r["gini"] == 0.0
    assert r["top1pct_share"] == _round6(1 / 100)
    assert r["top10pct_share"] == _round6(10 / 100)
