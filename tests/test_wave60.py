"""Wave 60: TPC-H Q8 national market share, Q19-shape disjunctive part
revenue, Q6-shape forecast revenue change.

Independent evidence beyond the DuckDB oracles: pure-Python join
replicas over the real sf0.001 tables for all three shapes, plus a
branch-exclusivity proof for the disjunctive query."""

from collections import defaultdict

from readability_1_spark.queries import (
    q_disjunctive_part_revenue,
    q_forecast_revenue_change,
    q_nation_market_share,
)

from .replicas import _tbl

SF = "/root/testdata/sf0.001"


# ------------------------------------------------ Q8 market share


def test_nation_market_share_replica(spark):
    nat = {r["n_nationkey"]: r for r in _tbl("nation", SF)}
    reg = {r["r_regionkey"]: r["r_name"] for r in _tbl("region", SF)}
    cust = {r["c_custkey"]: r["c_nationkey"] for r in _tbl("customer", SF)}
    econ_parts = {
        r["p_partkey"] for r in _tbl("part", SF) if r["p_type"] == "ECONOMY"
    }
    sup_nat = {r["s_suppkey"]: r["s_nationkey"] for r in _tbl("supplier", SF)}
    orders = {
        r["o_orderkey"]: r
        for r in _tbl("orders", SF)
        if "1996-01-01" <= r["o_orderdate"].strftime("%Y-%m-%d") < "1998-01-01"
    }
    tot = defaultdict(float)
    target = defaultdict(float)
    n = defaultdict(int)
    for li in _tbl("lineitem", SF):
        o = orders.get(li["l_orderkey"])
        if o is None or li["l_partkey"] not in econ_parts:
            continue
        c_nat = nat[cust[o["o_custkey"]]]
        if reg[c_nat["n_regionkey"]] != "EUROPE":
            continue
        yr = o["o_orderdate"].year
        rev = li["l_extendedprice"] * (1 - li["l_discount"])
        tot[yr] += rev
        n[yr] += 1
        if nat[sup_nat[li["l_suppkey"]]]["n_name"] == "NATION_18":
            target[yr] += rev
    got = {r["order_year"]: r for r in q_nation_market_share(spark, SF).collect()}
    assert set(got) == set(tot) == {1996, 1997}
    for yr, r in got.items():
        assert r["n_items"] == n[yr]
        assert abs(r["total_revenue"] - round(tot[yr], 2)) <= 0.011
        assert abs(r["nation_revenue"] - round(target[yr], 2)) <= 0.011
        assert (
            abs(r["market_share"] - r["nation_revenue"] / r["total_revenue"])
            < 1e-6
        )
        # the target nation genuinely participates (non-degenerate share)
        assert 0 < r["market_share"] < 1


# ----------------------------------- Q19 disjunctive part revenue


_BRANCHES = [
    (1, "Brand#13", (1, 10), (1, 20)),
    (2, "Brand#22", (11, 25), (10, 35)),
    (3, "Brand#25", (26, 50), (25, 50)),
]


def test_disjunctive_part_revenue_replica(spark):
    parts = {r["p_partkey"]: r for r in _tbl("part", SF)}
    rev = defaultdict(float)
    n = defaultdict(int)
    for li in _tbl("lineitem", SF):
        p = parts[li["l_partkey"]]
        q = li["l_quantity"]
        hits = [
            b
            for b, brand, (s0, s1), (q0, q1) in _BRANCHES
            if p["p_brand"] == brand
            and s0 <= p["p_size"] <= s1
            and q0 <= q <= q1
        ]
        assert len(hits) <= 1  # disjoint size ranges => exclusive branches
        if hits:
            rev[hits[0]] += li["l_extendedprice"] * (1 - li["l_discount"])
            n[hits[0]] += 1
    got = {
        r["branch"]: r for r in q_disjunctive_part_revenue(spark, SF).collect()
    }
    assert set(got) == set(n) and got
    for b, r in got.items():
        assert r["n_items"] == n[b]
        assert abs(r["revenue"] - round(rev[b], 2)) <= 0.011


# ------------------------------------- Q6 forecast revenue change


def test_forecast_revenue_change_replica(spark):
    want = 0.0
    cnt = 0
    for li in _tbl("lineitem", SF):
        d = li["l_shipdate"].strftime("%Y-%m-%d")
        if not ("1996-01-01" <= d < "1997-01-01"):
            continue
        if not (0.05 <= li["l_discount"] <= 0.07):
            continue
        if not li["l_quantity"] < 24:
            continue
        want += li["l_extendedprice"] * li["l_discount"]
        cnt += 1
    [r] = q_forecast_revenue_change(spark, SF).collect()
    assert cnt > 0  # the filters actually select rows at sf0.001
    assert r["n_items"] == cnt
    assert abs(r["forecast_revenue"] - round(want, 2)) <= 0.011


def test_forecast_revenue_pushdown_plan(spark):
    """All three predicates reach the parquet scan as PushedFilters and
    the scan reads only the 4 referenced columns."""
    plan = q_forecast_revenue_change(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters:" in plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({col})" in plan or col in plan.split("PushedFilters")[1][:600]
    read_schema = plan.split("ReadSchema:")[1][:300]
    assert "l_extendedprice" in read_schema
    assert "l_partkey" not in read_schema
