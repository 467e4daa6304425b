"""Wave 86: positional phrase search, Kendall rank agreement, trimmed
robust stats.

Independent evidence beyond the DuckDB oracles: a pure-Python
positional-bigram replica; a pair-counting Kendall replica seeded from
the two attested rankings; and a trimmed-stats replica plus a crafted
outlier corpus where the raw mean moves and the trimmed mean provably
does not."""

import re
from collections import defaultdict

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    PHRASE_K,
    TRIM_PCT,
    q_bm25_prf_expansion,
    q_bm25_search_topk,
    q_phrase_search,
    q_ranking_kendall_tau,
    q_source_trimmed_stats,
)

from .replicas import _round6

SF = "/root/testdata/sf0.001"


# --------------------------------------------------- phrase search


def test_phrase_search_replica(spark):
    texts = {
        r["doc_id"]: [
            t for t in re.split(r"[^a-z0-9]+", r["text"].lower()) if t
        ]
        for r in pq.read_table(f"{SF}/documents.parquet").to_pylist()
    }
    counts = defaultdict(int)
    per_doc = defaultdict(lambda: defaultdict(int))
    for d, ws in texts.items():
        for a, b in zip(ws, ws[1:]):
            counts[(a, b)] += 1
            per_doc[(a, b)][d] += 1
    top = sorted(counts, key=lambda p: (-counts[p], p))[:PHRASE_K]
    rows = {r["phrase"]: r for r in q_phrase_search(spark, SF).collect()}
    assert set(rows) == {" ".join(p) for p in top}
    for p in top:
        r = rows[" ".join(p)]
        docs = per_doc[p]
        heavy = min(docs, key=lambda d: (-docs[d], d))
        assert (
            r["n_docs"],
            r["n_occurrences"],
            r["top_doc"],
            r["top_doc_occ"],
        ) == (len(docs), counts[p], heavy, docs[heavy])
        # a phrase occurrence is also a bigram occurrence: totals agree
        assert r["n_occurrences"] == counts[p]


# --------------------------------------------------- Kendall tau


def test_kendall_replica(spark):
    base = defaultdict(dict)
    for r in q_bm25_search_topk(spark, SF).collect():
        base[r["query_id"]][r["doc_id"]] = r["rnk"]
    prf = defaultdict(dict)
    for r in q_bm25_prf_expansion(spark, SF).collect():
        prf[r["query_id"]][r["doc_id"]] = r["rnk"]
    rows = {r["query_id"]: r for r in
            q_ranking_kendall_tau(spark, SF).collect()}
    assert set(rows) == set(base)
    for qid in base:
        common = sorted(set(base[qid]) & set(prf[qid]))
        conc = disc = 0
        for i, da in enumerate(common):
            for db in common[i + 1 :]:
                s = (base[qid][da] - base[qid][db]) * (
                    prf[qid][da] - prf[qid][db]
                )
                if s > 0:
                    conc += 1
                else:
                    disc += 1
        r = rows[qid]
        n_pairs = len(common) * (len(common) - 1) // 2
        assert (
            r["n_common"],
            r["n_pairs"],
            r["concordant"],
            r["discordant"],
        ) == (len(common), n_pairs, conc, disc)
        want_tau = (
            _round6((conc - disc) / n_pairs) if n_pairs else 0.0
        )
        assert r["kendall_tau"] == want_tau
        assert -1.0 <= r["kendall_tau"] <= 1.0


# --------------------------------------------------- trimmed stats


def test_trimmed_stats_replica(spark):
    lens = defaultdict(list)
    for r in pq.read_table(f"{SF}/documents.parquet").to_pylist():
        lens[r["source"]].append((len(r["text"]), r["doc_id"]))
    rows = {r["source"]: r for r in
            q_source_trimmed_stats(spark, SF).collect()}
    assert set(rows) == set(lens)
    for src, pairs in lens.items():
        pairs.sort()
        n = len(pairs)
        t = n * TRIM_PCT // 100
        kept = [ln for ln, _ in pairs[t : n - t]]
        r = rows[src]
        assert (
            r["n_docs"],
            r["n_trimmed_per_side"],
            r["trimmed_mean_len"],
            r["winsor_lo"],
            r["winsor_hi"],
            r["raw_mean_len"],
        ) == (
            n,
            t,
            (2 * sum(kept) + len(kept)) // (2 * len(kept)),
            min(kept),
            max(kept),
            (2 * sum(ln for ln, _ in pairs) + n) // (2 * n),
        )
        assert r["winsor_lo"] <= r["trimmed_mean_len"] <= r["winsor_hi"]


def test_trimmed_stats_crafted_outlier(spark, tmp_path):
    """39 docs of length 100 + one 100_000-char outlier: raw mean jumps
    to ~2597, trimmed mean stays exactly 100."""
    rows = [(i, "x" * 100, "en", "web", 100) for i in range(39)]
    rows.append((99, "y" * 100_000, "en", "web", 100_000))
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.parquet(f"{tmp_path}/documents.parquet")
    r = q_source_trimmed_stats(spark, str(tmp_path)).collect()[0]
    assert r["n_docs"] == 40
    assert r["n_trimmed_per_side"] == 2
    assert r["trimmed_mean_len"] == 100
    assert r["winsor_hi"] == 100  # the outlier is outside the bounds
    assert r["raw_mean_len"] == (2 * (39 * 100 + 100_000) + 40) // 80
    assert r["raw_mean_len"] > r["trimmed_mean_len"]
