"""Wave 84: personalized PageRank, k-core membership, dedup cluster
diameter audit.

Independent evidence beyond the DuckDB oracles: integer-arithmetic
replicas of the seeded-teleport iteration and the synchronous peeling
(with a convergence check that 8 rounds reach the fixpoint), a crafted
clique-plus-pendant graph driven through the core frame, and an exact
shingle-Jaccard replica of the cluster diameter seeded from the
attested cluster assignments."""

import re
from collections import defaultdict

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    DIAM_MAX_SIZE,
    KCORE_K,
    KCORE_ROUNDS,
    PPR_ITERS,
    PPR_SCALE,
    PPR_SEED_K,
    _ext_host_rows,
    _kcore_frame,
    q_dedup_cluster_diameter,
    q_dedup_minhash_clusters,
    q_host_kcore_membership,
    q_host_seeded_pagerank,
)

from .replicas import _round6

SF = "/root/testdata/sf0.001"


def _host_graph(spark):
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
        for x in hosts:
            for y in hosts:
                if x != y:
                    nbrs[x].add(y)
    return nodes, nbrs


# --------------------------------------------------- seeded pagerank


def test_seeded_pagerank_replica(spark):
    nodes, nbrs = _host_graph(spark)
    outdeg = {h: len(nbrs.get(h, ())) for h in nodes}
    seeds = sorted(nodes, key=lambda h: (-outdeg[h], h))[:PPR_SEED_K]
    sset = set(seeds)
    ns = len(seeds)
    base = (15 * PPR_SCALE) // (100 * ns)
    pr = {h: (PPR_SCALE // ns if h in sset else 0) for h in nodes}
    for _ in range(PPR_ITERS):
        dang = sum(pr[h] for h in nodes if outdeg[h] == 0)
        contrib = defaultdict(int)
        for h in nodes:
            if outdeg[h] > 0:
                share = pr[h] // outdeg[h]
                for n in nbrs[h]:
                    contrib[n] += share
        pr = {
            h: (base if h in sset else 0)
            + (
                85
                * (contrib[h] + (dang // ns if h in sset else 0))
            )
            // 100
            for h in nodes
        }
    rows = q_host_seeded_pagerank(spark, SF).collect()
    assert len(rows) == len(nodes)
    for r in rows:
        assert r["is_seed"] == (r["host"] in sset)
        assert r["ppr_units"] == pr[r["host"]]
    # personalization: total mass bounded by scale; seeds hold mass
    tot = sum(r["ppr_units"] for r in rows)
    assert tot <= PPR_SCALE
    assert sum(pr[s] for s in seeds) > 0


# --------------------------------------------------- k-core


def test_kcore_replica_and_fixpoint(spark):
    nodes, nbrs = _host_graph(spark)
    alive = set(nodes)
    history = []
    for _ in range(KCORE_ROUNDS):
        deg = {
            h: sum(1 for n in nbrs.get(h, ()) if n in alive)
            for h in alive
        }
        alive = {h for h in alive if deg[h] >= KCORE_K}
        history.append(set(alive))
    # the fixed round count reaches the fixpoint on this corpus
    assert history[-1] == history[-2]
    core_deg = {
        h: sum(1 for n in nbrs.get(h, ()) if n in alive) for h in alive
    }
    rows = q_host_kcore_membership(spark, SF).collect()
    assert len(rows) == len(nodes)
    for r in rows:
        assert r["in_kcore"] == (r["host"] in alive)
        assert r["core_degree"] == core_deg.get(r["host"], 0)
        if r["in_kcore"]:
            assert r["core_degree"] >= KCORE_K


def test_kcore_crafted_clique_pendant(spark):
    """K5 clique (every degree 4 >= 3) survives; a pendant path hung
    off the clique peels away entirely."""
    clique = ["c1", "c2", "c3", "c4", "c5"]
    pairs = [
        (x, y) for i, x in enumerate(clique) for y in clique[i + 1 :]
    ]
    pairs += [("c1", "p1"), ("p1", "p2"), ("p2", "p3")]
    sym = pairs + [(b, a) for a, b in pairs]
    nodes = spark.createDataFrame(
        [(h,) for h in clique + ["p1", "p2", "p3"]], "host string"
    )
    edges = spark.createDataFrame(sym, "src string, dst string")
    got = {r["host"]: r for r in _kcore_frame(nodes, edges).collect()}
    for c in clique:
        assert got[c]["in_kcore"]
        assert got[c]["core_degree"] == 4
    for p in ("p1", "p2", "p3"):
        assert not got[p]["in_kcore"]
        assert got[p]["core_degree"] == 0


# --------------------------------------------------- cluster diameter


def test_cluster_diameter_replica(spark):
    texts = {
        r["doc_id"]: r["text"]
        for r in pq.read_table(f"{SF}/documents.parquet").to_pylist()
    }
    clusters = defaultdict(list)
    for r in q_dedup_minhash_clusters(spark, SF).collect():
        clusters[r["cluster_id"]].append((r["doc_id"], r["cluster_size"]))

    def shingles(doc_id):
        ws = [
            t
            for t in re.split(r"[^a-z0-9]+", texts[doc_id].lower())
            if t
        ]
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    want = {}
    for cid, members in clusters.items():
        size = members[0][1]
        if not (2 <= size <= DIAM_MAX_SIZE):
            continue
        ids = sorted(d for d, _ in members)
        js = []
        for i, da in enumerate(ids):
            sa = shingles(da)
            for db in ids[i + 1 :]:
                sb = shingles(db)
                inter = len(sa & sb)
                js.append(inter * 1_000_000 // (len(sa | sb)))
        want[cid] = (
            size,
            len(js),
            _round6(min(js) / 1_000_000.0),
            _round6(max(js) / 1_000_000.0),
            (2 * sum(js) + len(js)) // (2 * len(js)),
            min(js) < 500_000,
        )
    rows = q_dedup_cluster_diameter(spark, SF).collect()
    assert len(rows) == len(want)
    n_chained = 0
    for r in rows:
        size, n_pairs, mn, mx, mean, chained = want[r["cluster_id"]]
        assert (
            r["cluster_size"],
            r["n_pairs"],
            r["min_jaccard"],
            r["max_jaccard"],
            r["mean_j_micro"],
            r["chained"],
        ) == (size, n_pairs, mn, mx, mean, chained)
        assert r["min_jaccard"] <= r["max_jaccard"]
        assert r["n_pairs"] == size * (size - 1) // 2
        n_chained += int(r["chained"])
    # captured in-run: replica agrees on the chain-linking verdicts
    assert n_chained == sum(1 for v in want.values() if v[5])
