"""Wave 89: quantization recall curve, degree assortativity, role
length effect size.

Independent evidence beyond the DuckDB oracles: a numpy-free Python
replica of the SQ reconstruction + integer-dot ranking whose recall
rows must match exactly (with the monotone-in-bits sanity on the mean),
an exact integer-sums assortativity replica, and a moments replica of
Cohen's d with a crafted corpus whose d is hand-computable."""

import math
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    QRC_BITS,
    QRC_TOPK,
    TRANSCRIPTS_PQ,
    _ext_host_rows,
    q_ann_cosine_topk,
    q_embedding_quant_recall_curve,
    q_host_degree_assortativity,
    q_role_length_effect_size,
)

from .replicas import _round6

SF = "/root/testdata/sf0.001"


def _r0(x):
    return int(Decimal(repr(float(x))).quantize(Decimal(1), ROUND_HALF_UP))


# --------------------------------------------------- quant recall


def test_quant_recall_replica(spark):
    embs = {
        r["vec_id"]: [float(v) for v in r["embedding"]]
        for r in pq.read_table(f"{SF}/embeddings.parquet").to_pylist()
    }
    dims = len(next(iter(embs.values())))
    mn = [min(e[i] for e in embs.values()) for i in range(dims)]
    mx = [max(e[i] for e in embs.values()) for i in range(dims)]
    exact = defaultdict(set)
    for r in q_ann_cosine_topk(spark, SF).collect():
        exact[r["query_id"]].add(r["vec_id"])

    def recon_micro(v, i, levels):
        if mx[i] == mn[i]:
            code = 0
        else:
            code = min(
                levels, math.floor((v - mn[i]) * levels / (mx[i] - mn[i]))
            )
        return _r0((mn[i] + (code * (mx[i] - mn[i])) / levels) * 1_000_000)

    rows = {(r["bits"], r["query_id"]): r for r in
            q_embedding_quant_recall_curve(spark, SF).collect()}
    mean_recall = {}
    for bits in QRC_BITS:
        levels = (1 << bits) - 1
        rv = {
            d: [recon_micro(v, i, levels) for i, v in enumerate(e)]
            for d, e in embs.items()
        }
        nsq = {d: sum(x * x for x in a) for d, a in rv.items()}
        recalls = []
        for qid in exact:
            scored = []
            for d, a in rv.items():
                if d == qid:
                    continue
                dot = 0
                qv = rv[qid]
                for x, y in zip(qv, a):
                    dot += x * y
                cm = _r0(
                    dot
                    * 1_000_000.0
                    / (math.sqrt(nsq[qid]) * math.sqrt(nsq[d]))
                )
                scored.append((cm, d))
            top = sorted(scored, key=lambda t: (-t[0], t[1]))[:QRC_TOPK]
            hits = sum(1 for _, d in top if d in exact[qid])
            r = rows[(bits, qid)]
            assert (r["n_returned"], r["n_hits"]) == (len(top), hits)
            assert r["recall_at_10"] == _round6(hits / len(top))
            recalls.append(hits / len(top))
        mean_recall[bits] = sum(recalls) / len(recalls)
    # more bits never hurts on average (the curve the query exists for)
    assert mean_recall[8] >= mean_recall[4] >= mean_recall[2] - 1e-9
    assert mean_recall[8] >= 0.9  # 8-bit SQ is near-lossless here


# --------------------------------------------------- assortativity


def test_assortativity_replica(spark):
    ph = {
        (r["conv_id"], r["turn_idx"], r["host"])
        for r in _ext_host_rows(spark, distinct_per_turn=True).collect()
    }
    by_turn = defaultdict(set)
    for conv, turn, host in ph:
        by_turn[(conv, turn)].add(host)
    edges = set()
    for hosts in by_turn.values():
        for a in hosts:
            for b in hosts:
                if a != b:
                    edges.add((a, b))
    deg = defaultdict(int)
    for s, _d in edges:
        deg[s] += 1
    m = len(edges)
    sx = sum(deg[s] for s, _ in edges)
    sy = sum(deg[d] for _, d in edges)
    sxy = sum(deg[s] * deg[d] for s, d in edges)
    sxx = sum(deg[s] ** 2 for s, _ in edges)
    syy = sum(deg[d] ** 2 for _, d in edges)
    r = q_host_degree_assortativity(spark, SF).collect()[0]
    assert r["m"] == m
    vx, vy = m * sxx - sx * sx, m * syy - sy * sy
    want = (
        _round6((m * sxy - sx * sy) / (math.sqrt(vx) * math.sqrt(vy)))
        if vx > 0 and vy > 0
        else 0.0
    )
    assert r["assortativity"] == want
    assert -1.0 <= r["assortativity"] <= 1.0
    # the symmetric edge set makes the two marginals identical
    assert sx == sy and sxx == syy


# --------------------------------------------------- effect size


def test_effect_size_replica(spark):
    import re

    recs = pq.read_table(TRANSCRIPTS_PQ).to_pylist()
    toks = defaultdict(list)
    for r in recs:
        if r["role"] in ("user", "assistant"):
            n = len(
                [
                    t
                    for t in re.split(
                        r"[ \t\n\x0b\f\r]+", r["text"] or ""
                    )
                    if t
                ]
            )
            toks[r["role"]].append(n)
    nu, na = len(toks["user"]), len(toks["assistant"])
    su, sa = sum(toks["user"]), sum(toks["assistant"])
    squ = sum(x * x for x in toks["user"])
    sqa = sum(x * x for x in toks["assistant"])
    pooled = ((sqa - sa * sa / na) + (squ - su * su / nu)) / (na + nu - 2)
    d_milli = _r0((sa / na - su / nu) * 1000.0 / math.sqrt(pooled))
    r = q_role_length_effect_size(spark, SF).collect()[0]
    assert (r["nu"], r["na"]) == (nu, na)
    assert r["user_mean_tok"] == (2 * su + nu) // (2 * nu)
    assert r["assistant_mean_tok"] == (2 * sa + na) // (2 * na)
    assert r["cohens_d_milli"] == d_milli
    mag = (
        "large"
        if abs(d_milli) >= 800
        else "medium"
        if abs(d_milli) >= 500
        else "small"
        if abs(d_milli) >= 200
        else "negligible"
    )
    assert r["magnitude"] == mag


def test_effect_size_crafted(spark, tmp_path, monkeypatch):
    """User turns of 10 tokens, assistant turns of 20, both with spread
    {-1, +1}: pooled var = 8/6, d = 10/sqrt(4/3) ~ 8660 milli ->
    large."""
    import readability_1_spark.queries as q

    rows = []
    for i, (role, n) in enumerate(
        [("user", 9), ("user", 11), ("user", 10), ("user", 10),
         ("assistant", 19), ("assistant", 21), ("assistant", 20),
         ("assistant", 20)]
    ):
        rows.append(("c1", i, role, " ".join(["w"] * n), None))
    pq_path = f"{tmp_path}/transcripts.parquet"
    spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string",
    ).write.parquet(pq_path)
    monkeypatch.setattr(q, "TRANSCRIPTS_PQ", pq_path)
    r = q.q_role_length_effect_size(spark, SF).collect()[0]
    assert (r["nu"], r["na"]) == (4, 4)
    assert (r["user_mean_tok"], r["assistant_mean_tok"]) == (10, 20)
    # pooled var = (2 + 2) / 6; d = 10 / sqrt(2/3)
    want = _r0(10 * 1000.0 / math.sqrt(4 / 6))
    assert r["cohens_d_milli"] == want
    assert r["magnitude"] == "large"
