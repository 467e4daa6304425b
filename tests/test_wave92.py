"""Wave 92: kNN label agreement, temperature sweep, k-center coreset.

Independent evidence beyond the DuckDB oracles: a majority-vote replica
over the (re-derived) refined kNN edges; a sqrt-composition replica of
the full temperature sweep with its flattening invariant (effective
sources rises as tau drops); and a pure-Python greedy Gonzalez replica
whose selections and radii must match exactly, plus the non-increasing
radius invariant."""

import math
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    KCENTER_K,
    MIX_TAUS,
    _nndescent_refined,
    q_coreset_kcenter,
    q_knn_label_agreement,
    q_mix_temperature_sweep,
)

from .replicas import _round6

SF = "/root/testdata/sf0.001"


def _r0(x):
    return int(Decimal(repr(float(x))).quantize(Decimal(1), ROUND_HALF_UP))


# --------------------------------------------------- label agreement


def test_knn_label_agreement_replica(spark):
    labels = {
        r["vec_id"]: r["label"]
        for r in pq.read_table(f"{SF}/embeddings.parquet").to_pylist()
    }
    _i, _s, refined = _nndescent_refined(spark, SF)
    nbrs = defaultdict(list)
    for r in refined.collect():
        nbrs[r["vec"]].append(labels[r["nbr"]])
    per_label = defaultdict(lambda: [0, 0])
    for v, ls in nbrs.items():
        votes = defaultdict(int)
        for l in ls:
            votes[l] += 1
        maj = min(votes, key=lambda l: (-votes[l], l))
        g = per_label[labels[v]]
        g[0] += 1
        g[1] += int(maj == labels[v])
    rows = {r["label"]: r for r in
            q_knn_label_agreement(spark, SF).collect()}
    assert set(rows) == set(per_label)
    for lab, (n, agree) in per_label.items():
        r = rows[lab]
        assert (r["n_vecs"], r["n_agree"], r["n_flagged"]) == (
            n,
            agree,
            n - agree,
        )
        assert r["agreement"] == _round6(agree / n)


# --------------------------------------------------- temperature sweep


def test_mix_sweep_replica(spark):
    import re

    toks = defaultdict(int)
    for r in pq.read_table(f"{SF}/documents.parquet").to_pylist():
        toks[r["source"]] += len(
            [t for t in re.split(r"[^a-z0-9]+", r["text"].lower()) if t]
        )
    rows = {(r["tau"], r["source"]): r for r in
            q_mix_temperature_sweep(spark, SF).collect()}
    tot_toks = sum(toks.values())
    ess_by_tau = {}
    for tau in MIX_TAUS:
        w = {}
        for s, n in toks.items():
            if tau == 0.25:
                x = math.sqrt(math.sqrt(float(n)))
            elif tau == 0.5:
                x = math.sqrt(float(n))
            else:
                x = float(n)
            w[s] = _r0(x * 1_000_000)
        tot_w = sum(w.values())
        s_micro = {s: _r0(wi * 1_000_000.0 / tot_w) for s, wi in w.items()}
        s2 = sum(v * v for v in s_micro.values())
        ess = _round6(1_000_000_000_000.0 / s2)
        ess_by_tau[tau] = ess
        for s in toks:
            r = rows[(tau, s)]
            assert r["n_tokens"] == toks[s]
            assert r["raw_share"] == _round6(toks[s] / tot_toks)
            assert r["temp_weight"] == _round6(w[s] / tot_w)
            assert r["effective_sources"] == ess
    # flattening: lower tau -> more effective sources
    assert (
        ess_by_tau[0.25] >= ess_by_tau[0.5] >= ess_by_tau[1.0]
    )
    # tau = 1 reproduces raw shares (boost ~ 1 everywhere)
    for s in toks:
        assert abs(rows[(1.0, s)]["boost"] - 1.0) < 1e-3


# --------------------------------------------------- k-center


def test_kcenter_replica(spark):
    embs = {
        r["vec_id"]: [float(v) for v in r["embedding"]]
        for r in pq.read_table(f"{SF}/embeddings.parquet").to_pylist()
    }

    def dist(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return _round6(math.sqrt(acc))

    centers = [min(embs)]
    want = [(1, min(embs), None)]
    for step in range(2, KCENTER_K + 1):
        dmin = {
            v: min(dist(e, embs[c]) for c in centers)
            for v, e in embs.items()
        }
        pick = min(dmin, key=lambda v: (-dmin[v], v))
        want.append((step, pick, dmin[pick]))
        centers.append(pick)
    rows = sorted(
        q_coreset_kcenter(spark, SF).collect(), key=lambda r: r["step"]
    )
    assert [(r["step"], r["center_id"], r["radius_closed"]) for r in rows] \
        == want
    # greedy k-center radii never increase
    radii = [r["radius_closed"] for r in rows if r["radius_closed"]]
    assert all(a >= b for a, b in zip(radii, radii[1:]))
    # all centers distinct
    assert len({r["center_id"] for r in rows}) == KCENTER_K
