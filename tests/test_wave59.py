"""Wave 59: TPC-H Q7 volume shipping, Q10 returned-item revenue, JSONL
transcript-source ingestion audit.

Independent evidence beyond the DuckDB oracles: pure-Python join
replicas over the real sf0.001 tables for both relational shapes, and a
json.loads replica (a THIRD parser, independent of both engines'
JSON-path extractors) over the committed JSONL fixture plus a crafted
file pinning every malformed class."""

import json
from collections import defaultdict

from readability_1_spark.queries import (
    TRANSCRIPTS_JSONL,
    jsonl_ingest_stats_frame,
    q_jsonl_transcript_ingest,
    q_returned_item_revenue,
    q_volume_shipping_pairs,
)

from .replicas import _tbl

SF = "/root/testdata/sf0.001"


# --------------------------------------------- Q7 volume shipping


def test_volume_shipping_pairs_replica(spark):
    nat = {r["n_nationkey"]: r["n_name"] for r in _tbl("nation", SF)}
    sup = {r["s_suppkey"]: nat[r["s_nationkey"]] for r in _tbl("supplier", SF)}
    cust = {r["c_custkey"]: nat[r["c_nationkey"]] for r in _tbl("customer", SF)}
    ocust = {r["o_orderkey"]: r["o_custkey"] for r in _tbl("orders", SF)}
    want_rev = defaultdict(float)
    want_n = defaultdict(int)
    for li in _tbl("lineitem", SF):
        d = li["l_shipdate"].strftime("%Y-%m-%d")
        if not ("1996-01-01" <= d < "1998-01-01"):
            continue
        sn = sup[li["l_suppkey"]]
        cn = cust[ocust[li["l_orderkey"]]]
        if {sn, cn} != {"NATION_18", "NATION_19"}:
            continue
        k = (sn, cn, li["l_shipdate"].year)
        want_rev[k] += li["l_extendedprice"] * (1 - li["l_discount"])
        want_n[k] += 1
    got = {
        (r["supp_nation"], r["cust_nation"], r["ship_year"]): (
            r["revenue"],
            r["n_items"],
        )
        for r in q_volume_shipping_pairs(spark, SF).collect()
    }
    assert set(got) == set(want_n) and got
    # both directions of the pair flow on the real data
    assert {(s, c) for s, c, _ in got} == {
        ("NATION_18", "NATION_19"),
        ("NATION_19", "NATION_18"),
    }
    for k, (rev, n) in got.items():
        assert n == want_n[k]
        assert abs(rev - round(want_rev[k], 2)) <= 0.011


# ------------------------------------------ Q10 returned-item revenue


def test_returned_item_revenue_replica(spark):
    nat = {r["n_nationkey"]: r["n_name"] for r in _tbl("nation", SF)}
    cust = {r["c_custkey"]: r for r in _tbl("customer", SF)}
    orders = {r["o_orderkey"]: r["o_custkey"] for r in _tbl("orders", SF)}
    rev = defaultdict(float)
    n_items = defaultdict(int)
    for li in _tbl("lineitem", SF):
        if li["l_returnflag"] != "R":
            continue
        ck = orders[li["l_orderkey"]]
        rev[ck] += li["l_extendedprice"] * (1 - li["l_discount"])
        n_items[ck] += 1
    ranked = sorted(rev, key=lambda c: (-round(rev[c], 2), c))[:20]
    rows = q_returned_item_revenue(spark, SF).collect()
    assert len(rows) == 20
    assert [r["c_custkey"] for r in rows] == ranked
    for r in rows:
        c = cust[r["c_custkey"]]
        assert r["c_name"] == c["c_name"]
        assert r["c_acctbal"] == c["c_acctbal"]
        assert r["n_name"] == nat[c["c_nationkey"]]
        assert r["n_returned_items"] == n_items[r["c_custkey"]]
        assert abs(r["revenue"] - round(rev[r["c_custkey"]], 2)) <= 0.011
    # descending revenue with custkey tiebreak
    keys = [(-r["revenue"], r["c_custkey"]) for r in rows]
    assert keys == sorted(keys)


# --------------------------------------------- JSONL ingestion audit


def _jsonl_replica(lines):
    n_valid = n_html = 0
    convs = set()
    keys = []
    max_idx = None
    for line in lines:
        try:
            obj = json.loads(line)
            conv = obj.get("conv_id")
            idx = int(str(obj.get("turn_idx")))
            assert conv is not None
        except (ValueError, TypeError, AssertionError):
            continue
        n_valid += 1
        convs.add(conv)
        keys.append((conv, idx))
        max_idx = idx if max_idx is None else max(max_idx, idx)
        text = obj.get("text")
        if text is not None and "<" in text:
            n_html += 1
    return {
        "n_lines": len(lines),
        "n_valid": n_valid,
        "n_malformed": len(lines) - n_valid,
        "n_convs": len(convs),
        "n_dup_keys": len(keys) - len(set(keys)),
        "n_html_turns": n_html,
        "max_turn_idx": max_idx,
    }


def test_jsonl_ingest_replica(spark):
    lines = open(TRANSCRIPTS_JSONL).read().splitlines()
    want = _jsonl_replica(lines)
    row = q_jsonl_transcript_ingest(spark, SF).collect()[0]
    assert row.asDict() == want
    # the committed fixture exercises every accounting class
    assert want["n_malformed"] == 4
    assert want["n_dup_keys"] == 1
    assert want["n_html_turns"] > 0
    assert want["n_convs"] == 12


def test_jsonl_ingest_crafted(spark, tmp_path):
    lines = [
        '{"conv_id": "a", "turn_idx": 0, "role": "user", "text": "<p>x"}',
        '{"conv_id": "a", "turn_idx": 1, "role": "assistant", "text": "y"}',
        '{"conv_id": "a", "turn_idx": 1, "role": "tool", "text": null}',
        '{"conv_id": "b", "turn_idx": 7}',
        '{"turn_idx": 3}',  # json-valid, no conv_id
        '{"conv_id": "c", "turn_idx": "x"}',  # non-integer turn_idx
        '{"conv_id": "d", "turn_idx":',  # truncated
        "plain text",  # not json
    ]
    p = tmp_path / "t.jsonl"
    p.write_text("\n".join(lines) + "\n")
    row = jsonl_ingest_stats_frame(spark.read.text(str(p))).collect()[0]
    assert row.asDict() == {
        "n_lines": 8,
        "n_valid": 4,
        "n_malformed": 4,
        "n_convs": 2,
        "n_dup_keys": 1,
        "n_html_turns": 1,
        "max_turn_idx": 7,
    }
    assert row.asDict() == _jsonl_replica(lines)
