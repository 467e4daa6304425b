"""Wave 54: extracted-title collision triage, Deequ-style single-pass
column profile, uncertainty sampling over the trained classifier.

Independent evidence beyond the DuckDB oracles: a pure-Python replica of
the title grouping over the committed goldens (the kernel's byte-equality
contract makes goldens the ground truth for extracted titles), a
pyarrow-side replica of every profile metric, and a cross-operator
consistency check that the uncertainty batch is exactly the 25 smallest
margins of the independently-attested classifier output."""

import datetime
from collections import defaultdict

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    GOLDENS_PQ,
    UNCERTAINTY_TOPK,
    _PROFILE_ORDERS_COLS,
    q_data_profile_orders,
    q_doc_quality_classifier,
    q_extract_title_collisions,
    q_uncertainty_sample_topk,
)

from .replicas import _round_repr

SF = "/root/testdata/sf0.001"
EPOCH = datetime.datetime(1970, 1, 1)


# ---------------------------------------------- title collisions


def test_extract_title_collisions_replica(spark):
    tbl = pq.read_table(GOLDENS_PQ).to_pylist()
    groups = defaultdict(list)
    for r in tbl:
        if r["status"] != "ok" or not r["title"] or not r["title"].strip():
            continue
        groups[r["title"].strip().lower()].append(
            f"{r['conv_id']}\t{r['turn_idx']}"
        )
    want = {
        t: (len(ks), min(ks), len(ks) > 1) for t, ks in groups.items()
    }
    got = {
        r["title_norm"]: (r["n_turns"], r["first_turn"], r["collision"])
        for r in q_extract_title_collisions(spark, SF).collect()
    }
    assert got == want
    # the smoke corpus repeats payloads: real collisions exist
    assert any(v[2] for v in got.values())
    assert any(not v[2] for v in got.values())


# ------------------------------------------------- data profile


def test_data_profile_orders_replica(spark):
    rows = pq.read_table(f"{SF}/orders.parquet").to_pylist()
    want = {}
    for name, kind in _PROFILE_ORDERS_COLS:
        vals = [r[name] for r in rows]
        nn = [v for v in vals if v is not None]
        if kind == "ts":
            nums = [int((v - EPOCH).total_seconds() * 1e6) for v in nn]
        elif kind == "num":
            nums = nn
        else:
            nums = None
        want[name] = (
            len(vals),
            sum(1 for v in vals if v is None),
            len(set(nn)),
            None if nums is None else _round_repr(float(min(nums))),
            None if nums is None else _round_repr(float(max(nums))),
            min(nn) if nums is None else None,
            max(nn) if nums is None else None,
        )
    got = {
        r["column_name"]: (
            r["n_rows"], r["n_null"], r["n_distinct"],
            r["min_num"], r["max_num"], r["min_str"], r["max_str"],
        )
        for r in q_data_profile_orders(spark, SF).collect()
    }
    assert got == want
    assert set(got) == {n for n, _ in _PROFILE_ORDERS_COLS}
    # structural sanity: the key column is unique
    assert got["o_orderkey"][2] == got["o_orderkey"][0]


# ---------------------------------------------- uncertainty sampling


def test_uncertainty_sample_consistency(spark):
    """The batch equals the 25 smallest (margin, doc_id) of the
    independently-attested classifier output, margins recomputed in
    pure Python from the scores."""
    scored = {
        r["doc_id"]: (r["score"], r["label"])
        for r in q_doc_quality_classifier(spark, SF).collect()
    }
    margins = sorted(
        (abs(int(_round_repr(s * 1_000_000, 0)) - 500_000), did)
        for did, (s, _) in scored.items()
    )
    want = {
        (did, scored[did][0], scored[did][1], m)
        for m, did in margins[:UNCERTAINTY_TOPK]
    }
    got = {
        (r["doc_id"], r["score"], r["label"], r["margin_micro"])
        for r in q_uncertainty_sample_topk(spark, SF).collect()
    }
    assert got == want
    assert len(got) == UNCERTAINTY_TOPK
    # every returned margin <= every excluded margin (cut property)
    cut = max(m for m, _ in margins[:UNCERTAINTY_TOPK])
    assert all(m >= cut for m, _ in margins[UNCERTAINTY_TOPK:])
