"""Wave 58: TPC-H Q5 local-supplier volume, Q14 promo revenue share,
cross-conversation canned-response audit.

Independent evidence beyond the DuckDB oracles: a pure-Python join
replica over the real sf0.001 tables, a crafted six-table corpus pinning
the Q5 nation-equality and region/date exclusions, a per-row share
identity check for Q14, and an exact hashlib replica + crafted
normalization corpus for the canned-response audit."""

import hashlib
from collections import defaultdict

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    AGENT_FIXTURE,
    CANNED_MIN_CONVS,
    canned_response_frame,
    q_assistant_canned_responses,
    q_local_supplier_volume,
    q_promo_revenue_share,
)

from .replicas import _tbl

SF = "/root/testdata/sf0.001"
SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string"
)


# ------------------------------------------- Q5 local supplier volume


def test_local_supplier_volume_replica(spark):
    nat = {r["n_nationkey"]: r for r in _tbl("nation", SF)}
    reg = {r["r_regionkey"]: r["r_name"] for r in _tbl("region", SF)}
    sup = {r["s_suppkey"]: r["s_nationkey"] for r in _tbl("supplier", SF)}
    cust = {r["c_custkey"]: r["c_nationkey"] for r in _tbl("customer", SF)}
    orders = {
        r["o_orderkey"]: r["o_custkey"]
        for r in _tbl("orders", SF)
        if "1996-01-01" <= r["o_orderdate"].strftime("%Y-%m-%d") < "1997-01-01"
    }
    want_rev = defaultdict(float)
    want_n = defaultdict(int)
    for li in _tbl("lineitem", SF):
        ck = orders.get(li["l_orderkey"])
        if ck is None:
            continue
        s_nat = sup[li["l_suppkey"]]
        if cust[ck] != s_nat:
            continue
        n = nat[s_nat]
        if reg[n["n_regionkey"]] != "ASIA":
            continue
        want_rev[n["n_name"]] += li["l_extendedprice"] * (
            1 - li["l_discount"]
        )
        want_n[n["n_name"]] += 1
    got = {
        r["n_name"]: (r["revenue"], r["n_items"])
        for r in q_local_supplier_volume(spark, SF).collect()
    }
    assert set(got) == set(want_n) and got  # non-trivial result
    for name, (rev, n) in got.items():
        assert n == want_n[name]
        # summation order differs between the replica's sequential fold
        # and Spark's partial aggregation; round-2 sums agree within an
        # ulp of the rounding step
        assert abs(rev - round(want_rev[name], 2)) <= 0.011


def test_local_supplier_volume_crafted(spark, tmp_path):
    ts = "timestamp"
    spark.createDataFrame(
        [(0, "ASIA"), (1, "OTHER")], "r_regionkey long, r_name string"
    ).write.parquet(f"{tmp_path}/region.parquet")
    spark.createDataFrame(
        [(0, "N_A0", 0), (1, "N_A1", 0), (2, "N_O2", 1)],
        "n_nationkey long, n_name string, n_regionkey long",
    ).write.parquet(f"{tmp_path}/nation.parquet")
    spark.createDataFrame(
        [(0, 0), (1, 1), (2, 2)], "s_suppkey long, s_nationkey long"
    ).write.parquet(f"{tmp_path}/supplier.parquet")
    spark.createDataFrame(
        [(0, 0), (1, 1), (2, 2)], "c_custkey long, c_nationkey long"
    ).write.parquet(f"{tmp_path}/customer.parquet")
    spark.createDataFrame(
        [(10, 0, "1996-06-01"), (11, 0, "1995-06-01"), (12, 2, "1996-06-01")],
        f"o_orderkey long, o_custkey long, o_orderdate_s string",
    ).selectExpr(
        "o_orderkey", "o_custkey", f"CAST(o_orderdate_s AS {ts}) o_orderdate"
    ).write.parquet(f"{tmp_path}/orders.parquet")
    # (orderkey, suppkey, price, discount):
    #   in-window order, local supplier      -> counted under N_A0
    #   in-window order, NON-local ASIA supp -> excluded (the Q5 equality)
    #   out-of-window order, local supplier  -> excluded (date)
    #   in-window order, OTHER-region local  -> excluded (region)
    spark.createDataFrame(
        [
            (10, 0, 100.0, 0.1),
            (10, 1, 100.0, 0.1),
            (11, 0, 100.0, 0.1),
            (12, 2, 100.0, 0.1),
        ],
        "l_orderkey long, l_suppkey long, l_extendedprice double,"
        " l_discount double",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    rows = q_local_supplier_volume(spark, str(tmp_path)).collect()
    assert [(r["n_name"], r["revenue"], r["n_items"]) for r in rows] == [
        ("N_A0", 90.0, 1)
    ]


# --------------------------------------------- Q14 promo revenue share


def test_promo_revenue_share_replica(spark):
    ptype = {r["p_partkey"]: r["p_type"] for r in _tbl("part", SF)}
    promo = defaultdict(float)
    total = defaultdict(float)
    for li in _tbl("lineitem", SF):
        d = li["l_shipdate"]
        if not ("1996-01-01" <= d.strftime("%Y-%m-%d") < "1997-01-01"):
            continue
        rev = li["l_extendedprice"] * (1 - li["l_discount"])
        m = d.month
        total[m] += rev
        if ptype[li["l_partkey"]] == "PROMO":
            promo[m] += rev
    rows = q_promo_revenue_share(spark, SF).collect()
    assert sorted(r["ship_month"] for r in rows) == sorted(total)
    for r in rows:
        m = r["ship_month"]
        assert abs(r["promo_revenue"] - round(promo[m], 2)) <= 0.011
        assert abs(r["total_revenue"] - round(total[m], 2)) <= 0.011
        # the share is derived from the row's OWN rounded sums
        ident = 100.0 * r["promo_revenue"] / r["total_revenue"]
        assert abs(r["promo_share_pct"] - ident) < 5e-7
        assert 0.0 <= r["promo_share_pct"] <= 100.0


# ------------------------------------------- canned-response audit


def _corpus():
    rows = pq.read_table(
        "tests/goldens/transcripts_smoke.parquet"
    ).to_pylist()
    rows = [
        {k: r[k] for k in ("conv_id", "turn_idx", "role", "text", "tool")}
        for r in rows
    ]
    for c, i, r, x, t in AGENT_FIXTURE:
        rows.append(
            {"conv_id": c, "turn_idx": i, "role": r, "text": x, "tool": t}
        )
    return rows


def test_assistant_canned_responses_replica(spark):
    groups = defaultdict(lambda: [0, set(), 0])
    for r in _corpus():
        if r["role"] != "assistant" or r["text"] is None:
            continue
        norm = r["text"].strip(" ").lower()  # Spark trim strips spaces only
        if not norm:
            continue
        d = hashlib.md5(norm.encode("utf-8")).hexdigest()
        g = groups[d]
        g[0] += 1
        g[1].add(r["conv_id"])
        g[2] = len(norm)
    want = {
        d: (n, len(cs), ln, len(cs) >= CANNED_MIN_CONVS)
        for d, (n, cs, ln) in groups.items()
    }
    got = {
        r["resp_digest"]: (
            r["n_turns"],
            r["n_convs"],
            r["n_chars"],
            r["canned"],
        )
        for r in q_assistant_canned_responses(spark, SF).collect()
    }
    assert got == want
    flags = {v[3] for v in got.values()}
    assert flags == {True, False}  # both branches occur on the corpus


def test_canned_response_frame_crafted(spark):
    rows = [
        # same normalized reply across 3 convs -> canned
        ("c1", 1, "assistant", "Sure thing ", None),
        ("c2", 1, "assistant", "sure thing", None),
        ("c3", 1, "assistant", " SURE THING", None),
        # repeated within ONE conv -> n_turns 2, n_convs 1, not canned
        ("c4", 1, "assistant", "unique reply", None),
        ("c4", 3, "assistant", "unique reply", None),
        # dropped: NULL, whitespace-only, non-assistant role
        ("c5", 1, "assistant", None, None),
        ("c5", 2, "assistant", "   ", None),
        ("c5", 3, "user", "sure thing", None),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    got = {
        r["resp_digest"]: (
            r["n_turns"],
            r["n_convs"],
            r["n_chars"],
            r["canned"],
        )
        for r in canned_response_frame(df).collect()
    }
    d_canned = hashlib.md5(b"sure thing").hexdigest()
    d_uniq = hashlib.md5(b"unique reply").hexdigest()
    assert got == {
        d_canned: (3, 3, 10, True),
        d_uniq: (2, 1, 12, False),
    }
