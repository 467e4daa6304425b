"""Wave 72: market-basket part affinity, embedding label-centroid
separation, per-source Wilson CI of classifier pass rate.

Independent evidence beyond the DuckDB oracles: a pure-Python
market-basket replica over the real lineitem table plus a crafted
corpus pinning the DISTINCT-per-order rule; an exact integer replica
of the micro-unit centroid cosine plus a hand-computed 2-D geometry
corpus; and a bit-exact float replica of the Wilson expression driven
by the oracle-verified classifier's own predictions."""

import math
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    AFFINITY_MIN_CO,
    AFFINITY_TOPK,
    q_doc_quality_classifier,
    q_label_centroid_similarity,
    q_part_affinity_lift,
    q_quality_wilson_ci,
)

from .replicas import _round6

SF = "/root/testdata/sf0.001"


def _round0_spark(x):
    # Spark F.round(x, 0) goes through BigDecimal.valueOf == shortest repr.
    return int(Decimal(repr(float(x))).quantize(Decimal("1"), ROUND_HALF_UP))


# --------------------------------------------------- part affinity


def _affinity_replica(rows):
    op = {(r["l_orderkey"], r["l_partkey"]) for r in rows}
    orders = defaultdict(set)
    part_cnt = defaultdict(int)
    for ok, pk in op:
        orders[ok].add(pk)
        part_cnt[pk] += 1
    n_orders = len(orders)
    co = defaultdict(int)
    for pks in orders.values():
        s = sorted(pks)
        for i in range(len(s)):
            for j in range(i + 1, len(s)):
                co[(s[i], s[j])] += 1
    cand = [(pa, pb, c) for (pa, pb), c in co.items() if c >= AFFINITY_MIN_CO]
    cand.sort(key=lambda t: (-t[2], t[0], t[1]))
    out = {}
    for pa, pb, c in cand[:AFFINITY_TOPK]:
        out[(pa, pb)] = (
            c,
            part_cnt[pa],
            part_cnt[pb],
            n_orders,
            _round6(c / n_orders),
            _round6(c / part_cnt[pa]),
            _round6((c * n_orders) / (part_cnt[pa] * part_cnt[pb])),
        )
    return out


def test_affinity_replica_real_corpus(spark):
    li = pq.read_table(
        f"{SF}/lineitem.parquet", columns=["l_orderkey", "l_partkey"]
    ).to_pylist()
    want = _affinity_replica(li)
    rows = q_part_affinity_lift(spark, SF).collect()
    assert len(rows) == min(AFFINITY_TOPK, len(want))
    for r in rows:
        w = want[(r["part_a"], r["part_b"])]
        assert (
            r["co_orders"],
            r["cnt_a"],
            r["cnt_b"],
            r["n_orders"],
            r["support"],
            r["conf_a_to_b"],
            r["lift"],
        ) == w
    # top-K rank order: co DESC, part_a, part_b
    got = [(-r["co_orders"], r["part_a"], r["part_b"]) for r in rows]
    assert got == sorted(got)


def test_affinity_crafted_distinct_per_order(spark, tmp_path):
    """Order 1 contains part 100 TWICE (two lineitems) and part 200;
    orders 2 has {100, 200}, order 3 has {100} alone.  The duplicate
    lineitem must not double-count: co(100,200) = 2 exactly, lift =
    (2*3)/(3*2) = 1.0."""
    rows = [
        (1, 100),
        (1, 100),
        (1, 200),
        (2, 100),
        (2, 200),
        (3, 100),
    ]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    out = q_part_affinity_lift(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["part_a"], r["part_b"], r["co_orders"]) == (100, 200, 2)
    assert (r["cnt_a"], r["cnt_b"], r["n_orders"]) == (3, 2, 3)
    assert r["support"] == _round6(2 / 3)
    assert r["conf_a_to_b"] == _round6(2 / 3)
    assert r["lift"] == 1.0


# --------------------------------------------------- label centroids


def _centroid_replica(recs):
    K = 1000000
    sums = defaultdict(int)
    ns = defaultdict(int)
    for r in recs:
        lab = r["label"]
        ns[lab] += 1
        for i, v in enumerate(r["embedding"]):
            sums[(lab, i)] += _round0_spark(float(v) * 1e6)
    cent = {}
    for (lab, i), s in sums.items():
        n = ns[lab]
        cent[(lab, i)] = (2 * (s + K * n) + n) // (2 * n) - K
    labs = sorted(ns)
    dim = max(i for (_, i) in cent) + 1
    nsq = {
        lab: sum(cent[(lab, i)] ** 2 for i in range(dim)) for lab in labs
    }
    out = {}
    for ai in range(len(labs)):
        for bi in range(ai + 1, len(labs)):
            a, b = labs[ai], labs[bi]
            dot = sum(cent[(a, i)] * cent[(b, i)] for i in range(dim))
            cos = (
                _round6(dot / math.sqrt(float(nsq[a]) * float(nsq[b])))
                if nsq[a] > 0 and nsq[b] > 0
                else None
            )
            out[(a, b)] = (ns[a], ns[b], cos)
    return out


def test_centroid_replica_real_corpus(spark):
    recs = pq.read_table(f"{SF}/embeddings.parquet").to_pylist()
    want = _centroid_replica(recs)
    rows = q_label_centroid_similarity(spark, SF).collect()
    assert len(rows) == len(want) == 45  # C(10, 2)
    for r in rows:
        assert (r["n_a"], r["n_b"], r["cosine"]) == want[
            (r["label_a"], r["label_b"])
        ]


def test_centroid_crafted_geometry(spark, tmp_path):
    """Label 0 = two copies of e1 (mean exercises n > 1), label 1 = e2,
    label 2 = (1,1): cos(0,1) = 0, cos(0,2) = cos(1,2) = 1/sqrt(2)."""
    pts = [
        (0, [1.0, 0.0], 0),
        (1, [1.0, 0.0], 0),
        (2, [0.0, 1.0], 1),
        (3, [1.0, 1.0], 2),
    ]
    spark.createDataFrame(
        pts, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")
    rows = q_label_centroid_similarity(spark, str(tmp_path)).collect()
    got = {
        (r["label_a"], r["label_b"]): (r["n_a"], r["n_b"], r["cosine"])
        for r in rows
    }
    iso = _round6(1 / math.sqrt(2.0))
    assert got == {
        (0, 1): (2, 1, 0.0),
        (0, 2): (2, 1, iso),
        (1, 2): (1, 1, iso),
    }


# --------------------------------------------------- Wilson CI


def _wilson(k, n):
    nd = float(n)
    p = float(k) / nd
    center = p + 3.8416 / (2.0 * nd)
    den = 1.0 + 3.8416 / nd
    half = 1.96 * math.sqrt(p * (1.0 - p) / nd + 3.8416 / (4.0 * nd * nd))
    return (
        _round6(p),
        _round6((center - half) / den),
        _round6((center + half) / den),
    )


def test_wilson_replica_real_corpus(spark):
    preds = {
        r["doc_id"]: r["pred"]
        for r in q_doc_quality_classifier(spark, SF).collect()
    }
    srcs = pq.read_table(
        f"{SF}/documents.parquet", columns=["doc_id", "source"]
    ).to_pylist()
    k = defaultdict(int)
    n = defaultdict(int)
    for r in srcs:
        if r["doc_id"] in preds:  # classifier drops zero-token docs
            n[r["source"]] += 1
            k[r["source"]] += preds[r["doc_id"]]
    rows = q_quality_wilson_ci(spark, SF).collect()
    assert {r["source"] for r in rows} == set(n)
    for r in rows:
        s = r["source"]
        assert (r["n"], r["k"]) == (n[s], k[s])
        pr, lo, hi = _wilson(k[s], n[s])
        assert (r["pass_rate"], r["wilson_lo"], r["wilson_hi"]) == (
            pr,
            lo,
            hi,
        )
        # interval sanity: the Wilson interval brackets the rate in [0, 1]
        assert 0.0 <= r["wilson_lo"] <= r["pass_rate"] + 1e-9
        assert r["pass_rate"] - 1e-9 <= r["wilson_hi"] <= 1.0
