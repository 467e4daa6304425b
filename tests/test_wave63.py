"""Wave 63: TPC-H Q2 min-cost supplier, Q9 product-type profit,
Q12 slow-shipment priority classes.

Independent evidence beyond the DuckDB oracles: pure-Python join
replicas over the real sf0.001 tables (the Q9 replica is integer-exact
end-to-end), plus crafted corpora pinning the Q2 tie-break /
region-exclusion semantics and the Q12 strict-> lateness boundary."""

from collections import defaultdict
from datetime import datetime
from decimal import ROUND_HALF_UP, Decimal

from readability_1_spark.queries import (
    MINCOST_MAX_SIZE,
    MINCOST_PART_TYPE,
    MINCOST_REGION,
    PROFIT_COST_PCT,
    PROFIT_PART_TYPE,
    SLOW_SHIP_DAYS,
    SLOW_SHIP_YEAR,
    q_min_cost_supplier,
    q_product_type_profit,
    q_shipment_priority_classes,
)

from .replicas import _round6, _tbl

SF = "/root/testdata/sf0.001"


def _round2(x):
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), ROUND_HALF_UP))


# ------------------------------------------------ Q2 min-cost supplier


def test_min_cost_supplier_replica(spark):
    nat = {r["n_nationkey"]: r for r in _tbl("nation", SF)}
    reg = {r["r_regionkey"]: r["r_name"] for r in _tbl("region", SF)}
    sup = {r["s_suppkey"]: r for r in _tbl("supplier", SF)}
    in_region = {
        k
        for k, s in sup.items()
        if reg[nat[s["s_nationkey"]]["n_regionkey"]] == MINCOST_REGION
    }
    part = {
        r["p_partkey"]: r
        for r in _tbl("part", SF)
        if r["p_type"] == MINCOST_PART_TYPE
        and r["p_size"] <= MINCOST_MAX_SIZE
    }
    offers = {}
    for li in _tbl("lineitem", SF):
        pk, sk = li["l_partkey"], li["l_suppkey"]
        if pk not in part or sk not in in_region:
            continue
        cost = _round6(li["l_extendedprice"] / li["l_quantity"])
        key = (pk, sk)
        if key not in offers or cost < offers[key]:
            offers[key] = cost
    best = {}
    for (pk, sk), cost in offers.items():
        cur = best.get(pk)
        if cur is None or (cost, sk) < cur:
            best[pk] = (cost, sk)
    rows = q_min_cost_supplier(spark, SF).collect()
    got = {r["p_partkey"]: r for r in rows}
    assert set(got) == set(best) and best  # non-trivial
    for pk, (cost, sk) in best.items():
        r = got[pk]
        assert r["min_cost"] == cost
        assert r["s_suppkey"] == sk
        assert r["p_brand"] == part[pk]["p_brand"]
        assert r["p_size"] == part[pk]["p_size"]
        assert r["s_name"] == sup[sk]["s_name"]
        assert (
            r["supplier_nation"] == nat[sup[sk]["s_nationkey"]]["n_name"]
        )


def test_min_cost_supplier_crafted(spark, tmp_path):
    spark.createDataFrame(
        [(0, MINCOST_REGION), (1, "OTHER")],
        "r_regionkey long, r_name string",
    ).write.parquet(f"{tmp_path}/region.parquet")
    spark.createDataFrame(
        [(0, "N_IN", 0), (1, "N_OUT", 1)],
        "n_nationkey long, n_name string, n_regionkey long",
    ).write.parquet(f"{tmp_path}/nation.parquet")
    spark.createDataFrame(
        [(1, "S1", 0), (2, "S2", 0), (3, "S3", 1)],
        "s_suppkey long, s_name string, s_nationkey long",
    ).write.parquet(f"{tmp_path}/supplier.parquet")
    spark.createDataFrame(
        [
            (10, "B1", 5, MINCOST_PART_TYPE),
            (11, "B2", MINCOST_MAX_SIZE + 1, MINCOST_PART_TYPE),
            (12, "B3", 5, "PROMO"),
        ],
        "p_partkey long, p_brand string, p_size int, p_type string",
    ).write.parquet(f"{tmp_path}/part.parquet")
    # Offers on part 10: S1 and S2 tie at unit cost 50.0 (tiebreak ->
    # min suppkey S1); S3 is cheaper but out of region.  Parts 11/12
    # have offers but fail the size/type filters.
    spark.createDataFrame(
        [
            (10, 1, 100.0, 2.0),
            (10, 2, 200.0, 4.0),
            (10, 3, 10.0, 2.0),
            (11, 1, 10.0, 2.0),
            (12, 1, 10.0, 2.0),
        ],
        "l_partkey long, l_suppkey long, l_extendedprice double,"
        " l_quantity double",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    rows = q_min_cost_supplier(spark, str(tmp_path)).collect()
    assert [
        (r["p_partkey"], r["min_cost"], r["s_suppkey"], r["s_name"],
         r["supplier_nation"])
        for r in rows
    ] == [(10, 50.0, 1, "S1", "N_IN")]


# ---------------------------------------------- Q9 product-type profit


def test_product_type_profit_replica_exact(spark):
    retail = {
        r["p_partkey"]: round(r["p_retailprice"] * 100)
        for r in _tbl("part", SF)
        if r["p_type"] == PROFIT_PART_TYPE
    }
    nat = {r["n_nationkey"]: r["n_name"] for r in _tbl("nation", SF)}
    sup = {r["s_suppkey"]: nat[r["s_nationkey"]] for r in _tbl("supplier", SF)}
    oyear = {r["o_orderkey"]: r["o_orderdate"].year for r in _tbl("orders", SF)}
    want = defaultdict(lambda: [0, 0])
    for li in _tbl("lineitem", SF):
        rc = retail.get(li["l_partkey"])
        if rc is None:
            continue
        ext = round(li["l_extendedprice"] * 100)
        disc = round(li["l_discount"] * 100)
        qty = round(li["l_quantity"])
        e4 = ext * (100 - disc) - PROFIT_COST_PCT * rc * qty
        g = want[(sup[li["l_suppkey"]], oyear[li["l_orderkey"]])]
        g[0] += e4
        g[1] += 1
    rows = q_product_type_profit(spark, SF).collect()
    got = {(r["nation"], r["o_year"]): r for r in rows}
    assert set(got) == set(want) and want
    for key, (e4, n) in want.items():
        r = got[key]
        # integer sum -> one final division -> repr-decimal HALF_UP:
        # the replica is exact, not tolerance-based
        assert r["profit"] == _round2(e4 / 10000.0)
        assert r["n_items"] == n


# ----------------------------------- Q12 slow-shipment priority classes


def test_shipment_priority_classes_replica(spark):
    lo = f"{SLOW_SHIP_YEAR}-01-01"
    hi = f"{SLOW_SHIP_YEAR + 1}-01-01"
    orders = {
        r["o_orderkey"]: (r["o_orderdate"], r["o_orderpriority"])
        for r in _tbl("orders", SF)
    }
    want = defaultdict(lambda: [0, 0])
    for li in _tbl("lineitem", SF):
        sd = li["l_shipdate"]
        if not (lo <= sd.strftime("%Y-%m-%d") < hi):
            continue
        od, prio = orders[li["l_orderkey"]]
        if (sd - od).total_seconds() <= SLOW_SHIP_DAYS * 86400:
            continue
        hi_p = prio in ("1-URGENT", "2-HIGH")
        want[li["l_returnflag"]][0 if hi_p else 1] += 1
    rows = q_shipment_priority_classes(spark, SF).collect()
    got = {r["l_returnflag"]: r for r in rows}
    assert set(got) == set(want) and want
    for flag, (h, l) in want.items():
        r = got[flag]
        assert r["high_priority_lines"] == h
        assert r["low_priority_lines"] == l
        assert r["high_share"] == _round6(h / (h + l))


def test_shipment_priority_boundary_crafted(spark, tmp_path):
    ts = "timestamp"
    spark.createDataFrame(
        [
            (1, datetime(1996, 1, 1), "1-URGENT"),
            (2, datetime(1996, 1, 1), "5-LOW"),
        ],
        f"o_orderkey long, o_orderdate {ts}, o_orderpriority string",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    # order 1: one line at EXACTLY +SLOW_SHIP_DAYS (not slow — strict >)
    # and one at +SLOW_SHIP_DAYS+1 day (slow, high priority);
    # order 2: slow, low priority; plus one line outside the ship year.
    from datetime import timedelta

    d_exact = datetime(1996, 1, 1) + timedelta(days=SLOW_SHIP_DAYS)
    d_late = d_exact + timedelta(days=1)
    spark.createDataFrame(
        [
            (1, "A", d_exact),
            (1, "A", d_late),
            (2, "A", d_late),
            (2, "A", datetime(1995, 6, 1)),
        ],
        f"l_orderkey long, l_returnflag string, l_shipdate {ts}",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    rows = q_shipment_priority_classes(spark, str(tmp_path)).collect()
    assert [
        (r["l_returnflag"], r["high_priority_lines"],
         r["low_priority_lines"], r["high_share"])
        for r in rows
    ] == [("A", 1, 1, 0.5)]
