"""Wave 64: TPC-H Q11 important stock, Q16 supplier-part counts,
Q20 excess-stock suppliers.

Independent evidence beyond the DuckDB oracles: integer-exact
pure-Python replicas over the real sf0.001 tables (all three queries'
decisions are integer cross-multiplications, so the replicas assert
equality, not tolerance), plus crafted corpora pinning the strict->
threshold boundaries and the Q16 complaint-supplier exclusion."""

from collections import defaultdict
from datetime import datetime
from decimal import ROUND_HALF_UP, Decimal

from readability_1_spark.queries import (
    EXCESS_STOCK_DENOM,
    EXCESS_STOCK_YEAR,
    IMPORTANT_STOCK_DENOM,
    IMPORTANT_STOCK_NATION_RANGE,
    PARTCOUNT_EXCL_BRAND,
    PARTCOUNT_EXCL_TYPE,
    q_excess_stock_suppliers,
    q_important_part_stock,
    q_supplier_part_counts,
)

from .replicas import _round6, _tbl

SF = "/root/testdata/sf0.001"


def _round2(x):
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), ROUND_HALF_UP))


# ------------------------------------------------- Q11 important stock


def test_important_part_stock_replica(spark):
    lo, hi = IMPORTANT_STOCK_NATION_RANGE
    in_window = {
        r["s_suppkey"]
        for r in _tbl("supplier", SF)
        if lo <= r["s_nationkey"] < hi
    }
    val = defaultdict(lambda: [0, 0])
    for li in _tbl("lineitem", SF):
        if li["l_suppkey"] not in in_window:
            continue
        g = val[li["l_partkey"]]
        g[0] += round(li["l_extendedprice"] * 100)
        g[1] += 1
    total = sum(v[0] for v in val.values())
    want = {
        pk: v for pk, v in val.items()
        if v[0] * IMPORTANT_STOCK_DENOM > total
    }
    rows = q_important_part_stock(spark, SF).collect()
    got = {r["p_partkey"]: r for r in rows}
    assert set(got) == set(want) and want
    for pk, (cents, n) in want.items():
        r = got[pk]
        assert r["supplied_value"] == _round2(cents / 100.0)
        assert r["n_lines"] == n
        assert r["value_share"] == _round6(cents / total)


def test_important_part_stock_boundary_crafted(spark, tmp_path):
    lo, _hi = IMPORTANT_STOCK_NATION_RANGE
    spark.createDataFrame(
        [(1, lo)], "s_suppkey long, s_nationkey long"
    ).write.parquet(f"{tmp_path}/supplier.parquet")
    # total = 1000 cents; part 10 holds exactly 1/DENOM of it (1000 *
    # 1000 == total * 1000... i.e. 1*1000 == 1000) -> strict > excludes
    # it; part 11 holds the rest -> included.
    spark.createDataFrame(
        [(10, 1, 0.01), (11, 1, 9.99)],
        "l_partkey long, l_suppkey long, l_extendedprice double",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    rows = q_important_part_stock(spark, str(tmp_path)).collect()
    assert [(r["p_partkey"], r["supplied_value"]) for r in rows] == [
        (11, 9.99)
    ]


# -------------------------------------------- Q16 supplier-part counts


def test_supplier_part_counts_replica(spark):
    bad = {r["s_suppkey"] for r in _tbl("supplier", SF) if r["s_acctbal"] < 0}
    attrs = {
        r["p_partkey"]: (r["p_brand"], r["p_type"], r["p_size"])
        for r in _tbl("part", SF)
        if r["p_brand"] != PARTCOUNT_EXCL_BRAND
        and r["p_type"] != PARTCOUNT_EXCL_TYPE
    }
    sups = defaultdict(set)
    for li in _tbl("lineitem", SF):
        if li["l_suppkey"] in bad:
            continue
        a = attrs.get(li["l_partkey"])
        if a is not None:
            sups[a].add(li["l_suppkey"])
    rows = q_supplier_part_counts(spark, SF).collect()
    got = {
        (r["p_brand"], r["p_type"], r["p_size"]): r["supplier_cnt"]
        for r in rows
    }
    assert got == {a: len(s) for a, s in sups.items()} and got


def test_supplier_part_counts_crafted(spark, tmp_path):
    spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, 0.0)],
        "s_suppkey long, s_acctbal double",
    ).write.parquet(f"{tmp_path}/supplier.parquet")
    spark.createDataFrame(
        [
            (10, "B9", "LARGE", 4),
            (11, PARTCOUNT_EXCL_BRAND, "LARGE", 4),
            (12, "B9", PARTCOUNT_EXCL_TYPE, 4),
        ],
        "p_partkey long, p_brand string, p_type string, p_size int",
    ).write.parquet(f"{tmp_path}/part.parquet")
    # part 10: suppliers 1 (ok, twice — distinct), 2 (complaint,
    # excluded), 3 (ok); parts 11/12 fail the attribute exclusions.
    spark.createDataFrame(
        [(10, 1), (10, 1), (10, 2), (10, 3), (11, 1), (12, 1)],
        "l_partkey long, l_suppkey long",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    rows = q_supplier_part_counts(spark, str(tmp_path)).collect()
    assert [
        (r["p_brand"], r["p_type"], r["p_size"], r["supplier_cnt"])
        for r in rows
    ] == [("B9", "LARGE", 4, 2)]


# ------------------------------------------ Q20 excess-stock suppliers


def test_excess_stock_suppliers_replica(spark):
    lo = f"{EXCESS_STOCK_YEAR}-01-01"
    hi = f"{EXCESS_STOCK_YEAR + 1}-01-01"
    per_ps = defaultdict(int)
    for li in _tbl("lineitem", SF):
        if lo <= li["l_shipdate"].strftime("%Y-%m-%d") < hi:
            per_ps[(li["l_partkey"], li["l_suppkey"])] += round(
                li["l_quantity"]
            )
    per_part = defaultdict(int)
    for (pk, _sk), q in per_ps.items():
        per_part[pk] += q
    want = defaultdict(lambda: [0, 0])
    for (pk, sk), q in per_ps.items():
        if q * EXCESS_STOCK_DENOM > per_part[pk]:
            want[sk][0] += 1
            want[sk][1] += q
    sup = {r["s_suppkey"]: r for r in _tbl("supplier", SF)}
    nat = {r["n_nationkey"]: r["n_name"] for r in _tbl("nation", SF)}
    rows = q_excess_stock_suppliers(spark, SF).collect()
    got = {r["s_suppkey"]: r for r in rows}
    assert set(got) == set(want) and want
    for sk, (n, q) in want.items():
        r = got[sk]
        assert r["n_dominant_parts"] == n
        assert r["dominant_qty"] == q
        assert r["s_name"] == sup[sk]["s_name"]
        assert r["supplier_nation"] == nat[sup[sk]["s_nationkey"]]


def test_excess_stock_boundary_crafted(spark, tmp_path):
    ts = "timestamp"
    spark.createDataFrame(
        [(1, "S1", 0), (2, "S2", 0)],
        "s_suppkey long, s_name string, s_nationkey long",
    ).write.parquet(f"{tmp_path}/supplier.parquet")
    spark.createDataFrame(
        [(0, "N0")], "n_nationkey long, n_name string"
    ).write.parquet(f"{tmp_path}/nation.parquet")
    in_y = datetime(EXCESS_STOCK_YEAR, 6, 1)
    out_y = datetime(EXCESS_STOCK_YEAR - 1, 6, 1)
    # part 10 total qty 5: S1 ships exactly 1 (1*5 == 5, NOT dominant
    # — strict >), S2 ships 4 (4*5 > 5, dominant).  The out-of-year
    # line would make S1 dominant if the year filter leaked.
    spark.createDataFrame(
        [
            (10, 1, 1.0, in_y),
            (10, 2, 4.0, in_y),
            (10, 1, 40.0, out_y),
        ],
        f"l_partkey long, l_suppkey long, l_quantity double,"
        f" l_shipdate {ts}",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    rows = q_excess_stock_suppliers(spark, str(tmp_path)).collect()
    assert [
        (r["s_suppkey"], r["s_name"], r["supplier_nation"],
         r["n_dominant_parts"], r["dominant_qty"])
        for r in rows
    ] == [(2, "S2", "N0", 1, 4)]
