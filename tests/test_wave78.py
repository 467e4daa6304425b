"""Wave 78: host label-propagation communities, one NN-descent round
over the LSH kNN graph, Brier decomposition of the quality classifier.

Independent evidence beyond the DuckDB oracles: a pure-Python
synchronous-LPA replica over the collected co-citation edges plus a
crafted bridge-of-cliques graph driven through the core frame; a
sequential-fold cosine replica of the full NN-descent round seeded from
the oracle-verified LSH pair list; and an integer-milli replica of the
Murphy decomposition from the classifier's own oracle-verified rows,
with the decomposition identity audited via decomp_gap."""

import math
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    LP_ITERS,
    NND_K,
    _ext_host_rows,
    _label_propagation_frame,
    q_brier_decomposition,
    q_dedup_embedding_lsh,
    q_doc_quality_classifier,
    q_host_label_propagation,
    q_knn_graph_nndescent,
)

from .replicas import _round6

SF = "/root/testdata/sf0.001"


def _lpa(nodes, nbrs, iters):
    lbl = {h: h for h in nodes}
    for _ in range(iters):
        new = {}
        for h in nodes:
            votes = Counter(lbl[n] for n in nbrs.get(h, ()))
            if votes:
                new[h] = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            else:
                new[h] = lbl[h]
        lbl = new
    return lbl


# --------------------------------------------------- label propagation


def test_label_propagation_replica(spark):
    ph = {
        (r["conv_id"], r["turn_idx"], r["host"])
        for r in _ext_host_rows(spark, distinct_per_turn=True).collect()
    }
    by_turn = defaultdict(set)
    for conv, turn, host in ph:
        by_turn[(conv, turn)].add(host)
    nbrs = defaultdict(set)
    nodes = set()
    for hosts in by_turn.values():
        nodes |= hosts
        for a in hosts:
            for b in hosts:
                if a != b:
                    nbrs[a].add(b)
    lbl = _lpa(nodes, nbrs, LP_ITERS)
    sizes = Counter(lbl.values())
    rows = q_host_label_propagation(spark, SF).collect()
    assert len(rows) == len(nodes)
    for r in rows:
        assert r["community"] == lbl[r["host"]]
        assert r["community_size"] == sizes[r["community"]]
        assert r["is_rep"] == (r["host"] == r["community"])
    # communities partition the host set
    assert sum(sizes.values()) == len(nodes)


def test_label_propagation_crafted_bridge(spark):
    """Two 4-cliques joined by one bridge edge, driven through the core
    frame; the pure-Python replica (same sync/tiebreak contract) is the
    expected value, and each clique must converge to ONE label."""
    cliq_a = ["a1", "a2", "a3", "a4"]
    cliq_b = ["b1", "b2", "b3", "b4"]
    pairs = []
    for cl in (cliq_a, cliq_b):
        for i, x in enumerate(cl):
            for y in cl[i + 1 :]:
                pairs.append((x, y))
    pairs.append(("a4", "b1"))
    sym = pairs + [(b, a) for a, b in pairs]
    nodes = spark.createDataFrame(
        [(h,) for h in cliq_a + cliq_b + ["lone"]], "host string"
    )
    edges = spark.createDataFrame(sym, "src string, dst string")
    got = {
        r["host"]: r["lbl"]
        for r in _label_propagation_frame(nodes, edges).collect()
    }
    nbrs = defaultdict(set)
    for a, b in sym:
        nbrs[a].add(b)
    want = _lpa(set(cliq_a + cliq_b + ["lone"]), nbrs, LP_ITERS)
    assert got == want
    assert len({got[h] for h in cliq_a}) == 1
    assert len({got[h] for h in cliq_b}) == 1
    assert got["lone"] == "lone"  # isolated node keeps its own label


# --------------------------------------------------- NN-descent


def _cos(a, b):
    dot = 0.0
    for x, y in zip(a, b):
        dot += float(x) * float(y)
    na = 0.0
    for x in a:
        na += float(x) * float(x)
    nb = 0.0
    for y in b:
        nb += float(y) * float(y)
    return _round6(dot / (math.sqrt(na) * math.sqrt(nb)))


def test_nndescent_replica(spark):
    emb = {
        r["vec_id"]: r["embedding"]
        for r in pq.read_table(f"{SF}/embeddings.parquet").to_pylist()
    }
    pairs = [
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in q_dedup_embedding_lsh(spark, SF).collect()
    ]
    sym = defaultdict(list)
    for a, b, c in pairs:
        assert c == _cos(emb[a], emb[b])  # shared cosine recipe holds
        sym[a].append((c, b))
        sym[b].append((c, a))
    init = {
        v: [(c, n) for c, n in sorted(ls, key=lambda t: (-t[0], t[1]))][
            :NND_K
        ]
        for v, ls in sym.items()
    }
    out = {}
    for v, ls in init.items():
        cand = {n for _, n in ls}
        for _, mid in ls:
            cand |= {n for _, n in init[mid] if n != v}
        scored = sorted(
            ((_cos(emb[v], emb[n]), n) for n in cand),
            key=lambda t: (-t[0], t[1]),
        )
        ref = scored[:NND_K]
        init_set = {n for _, n in ls}
        out[v] = (
            len(ls),
            len(cand),
            max(c for c, _ in ls),
            max(c for c, _ in ref),
            sum(1 for _, n in ref if n not in init_set),
        )
    rows = q_knn_graph_nndescent(spark, SF).collect()
    assert len(rows) == len(out)
    improved = 0
    for r in rows:
        n_init, n_cand, ib, rb, n_new = out[r["vec_id"]]
        assert (
            r["n_init"],
            r["n_cand"],
            r["init_best"],
            r["refined_best"],
            r["n_new"],
        ) == (n_init, n_cand, ib, rb, n_new)
        # descent never loses the best seed neighbor
        assert r["refined_best"] >= r["init_best"]
        assert r["improved"] == (rb > ib)
        assert 0 <= r["n_new"] <= NND_K
        improved += int(r["improved"])
    # sanity captured in-run: replica agrees on how often the round paid
    assert improved == sum(1 for v in out.values() if v[3] > v[2])


# --------------------------------------------------- Brier decomposition


def _sdiv_milli(x):
    return (x + 500) // 1000 if x >= 0 else -((-x + 500) // 1000)


def test_brier_decomposition_replica(spark):
    scored = [
        (r["score"], r["label"])
        for r in q_doc_quality_classifier(spark, SF).collect()
    ]
    n = len(scored)
    sq_mass = 0
    bins = defaultdict(lambda: [0, 0, 0])  # n, pos, micro_sum
    for s, y in scored:
        micro = int(
            Decimal(repr(s * 1_000_000)).quantize(Decimal(1), ROUND_HALF_UP)
        )
        dm = _sdiv_milli(micro - y * 1_000_000)
        sq_mass += dm * dm
        b = min(9, int(math.floor(s * 10)))
        bins[b][0] += 1
        bins[b][1] += y
        bins[b][2] += micro
    npos = sum(v[1] for v in bins.values())
    obar_micro = (2 * npos * 1_000_000 + n) // (2 * n)
    rel_mass = res_mass = 0
    for nb, pos, msum in bins.values():
        o_micro = int(
            Decimal(repr(_round6(pos / nb) * 1_000_000)).quantize(
                Decimal(1), ROUND_HALF_UP
            )
        )
        f_micro = int(
            Decimal(
                repr(_round6(msum / nb / 1_000_000.0) * 1_000_000)
            ).quantize(Decimal(1), ROUND_HALF_UP)
        )
        rel_mass += nb * _sdiv_milli(f_micro - o_micro) ** 2
        res_mass += nb * _sdiv_milli(o_micro - obar_micro) ** 2
    ob_m = _sdiv_milli(obar_micro)
    rows = q_brier_decomposition(spark, SF).collect()
    assert len(rows) == 1
    r = rows[0]
    want = {
        "n_docs": n,
        "n_bins": len(bins),
        "base_rate": _round6(obar_micro / 1_000_000.0),
        "brier": _round6(sq_mass / (n * 1_000_000.0)),
        "reliability": _round6(rel_mass / (n * 1_000_000.0)),
        "resolution": _round6(res_mass / (n * 1_000_000.0)),
        "uncertainty": _round6(ob_m * (1000 - ob_m) / 1_000_000.0),
    }
    for k, v in want.items():
        assert r[k] == v, k
    assert r["decomp_gap"] == _round6(
        want["brier"]
        - (want["reliability"] - want["resolution"] + want["uncertainty"])
    )
    # the identity holds up to within-bin variance + milli quantization
    assert abs(r["decomp_gap"]) < 0.05
    # Brier is a proper score in [0, 1]; resolution can't exceed unc.
    assert 0.0 <= r["brier"] <= 1.0
    assert r["resolution"] <= r["uncertainty"] + 0.001
