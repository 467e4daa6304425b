"""Wave 88: Cohen's kappa, dedup threshold sweep, conversation topic
shifts.

Independent evidence beyond the DuckDB oracles: an exact contingency
replica of the all-integer kappa identity; a shingle-Jaccard sweep
replica with its monotonicity invariants; and a turn-cosine replica
plus a crafted conversation whose single topic shift is hand-placed."""

import re
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    DEDUP_SWEEP_THRESHOLDS,
    KAPPA_SUBSTANTIAL,
    TRANSCRIPTS_PQ,
    TS_SHIFT_MICRO,
    q_conversation_topic_shift,
    q_dedup_minhash_lsh,
    q_dedup_threshold_sweep,
    q_doc_quality_classifier,
    q_filter_cohen_kappa,
)

from .replicas import _round6

SF = "/root/testdata/sf0.001"


# --------------------------------------------------- kappa


def test_kappa_replica(spark):
    scored = [
        (r["pred"], r["label"])
        for r in q_doc_quality_classifier(spark, SF).collect()
    ]
    n = len(scored)
    a = sum(1 for p, y in scored if p == 1 and y == 1)
    b = sum(1 for p, y in scored if p == 1 and y == 0)
    c = sum(1 for p, y in scored if p == 0 and y == 1)
    d = sum(1 for p, y in scored if p == 0 and y == 0)
    pe_num = (a + b) * (a + c) + (c + d) * (b + d)
    r = q_filter_cohen_kappa(spark, SF).collect()[0]
    assert (r["n_docs"], r["a"], r["b"], r["c"], r["d"]) == (n, a, b, c, d)
    assert r["observed_agreement"] == _round6((a + d) / n)
    assert r["expected_agreement"] == _round6(pe_num / (n * n))
    kappa = _round6((n * (a + d) - pe_num) / (n * n - pe_num))
    assert r["kappa"] == kappa
    assert r["substantial"] == (kappa >= KAPPA_SUBSTANTIAL)
    # kappa never exceeds observed agreement's excess structure
    assert -1.0 <= r["kappa"] <= 1.0


# --------------------------------------------------- threshold sweep


def test_threshold_sweep_replica(spark):
    texts = {
        r["doc_id"]: r["text"]
        for r in pq.read_table(f"{SF}/documents.parquet").to_pylist()
    }
    n_docs = len(texts)

    def shingles(d):
        ws = [t for t in re.split(r"[^a-z0-9]+", texts[d].lower()) if t]
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    cand = [
        (r["doc_a"], r["doc_b"])
        for r in q_dedup_minhash_lsh(spark, SF).collect()
    ]
    jm = {}
    for a, b in cand:
        sa, sb = shingles(a), shingles(b)
        jm[(a, b)] = len(sa & sb) * 1_000_000 // len(sa | sb)
    rows = {r["threshold"]: r for r in
            q_dedup_threshold_sweep(spark, SF).collect()}
    assert set(rows) == set(DEDUP_SWEEP_THRESHOLDS)
    prev_pairs = None
    for t in DEDUP_SWEEP_THRESHOLDS:
        tm = int(t * 1_000_000)
        kept = [p for p, j in jm.items() if j >= tm]
        touched = {d for p in kept for d in p}
        r = rows[t]
        assert (r["n_pairs_kept"], r["n_docs_touched"], r["n_cand"]) == (
            len(kept),
            len(touched),
            len(cand),
        )
        assert r["pair_share"] == _round6(len(kept) / len(cand))
        assert r["doc_share"] == _round6(len(touched) / n_docs)
        # monotone: raising the threshold never keeps more pairs
        if prev_pairs is not None:
            assert r["n_pairs_kept"] <= prev_pairs
        prev_pairs = r["n_pairs_kept"]


# --------------------------------------------------- topic shifts


def test_topic_shift_replica(spark):
    recs = pq.read_table(TRANSCRIPTS_PQ).to_pylist()
    by_conv = defaultdict(dict)
    for r in recs:
        ws = [
            t
            for t in re.split(
                r"[^a-z0-9]+", (r["text"] or "").lower()
            )
            if t
        ]
        by_conv[r["conv_id"]][r["turn_idx"]] = ws
    want = {}
    for conv, turns in by_conv.items():
        sims = []
        for i in sorted(turns):
            a, b = turns.get(i), turns.get(i + 1)
            if not a or not b:
                continue
            ca, cb = defaultdict(int), defaultdict(int)
            for t in a:
                ca[t] += 1
            for t in b:
                cb[t] += 1
            dot = sum(c * cb[t] for t, c in ca.items())
            import math

            na = math.sqrt(sum(c * c for c in ca.values()))
            nb = math.sqrt(sum(c * c for c in cb.values()))
            sims.append(
                int(
                    Decimal(repr(dot * 1000000.0 / (na * nb))).quantize(
                        Decimal(1), ROUND_HALF_UP
                    )
                )
            )
        if sims:
            want[conv] = (
                len(turns),
                len(sims),
                sum(1 for s in sims if s < TS_SHIFT_MICRO),
                min(sims),
                (2 * sum(sims) + len(sims)) // (2 * len(sims)),
            )
        else:
            want[conv] = (len(turns), 0, 0, 0, 0)
    rows = q_conversation_topic_shift(spark, SF).collect()
    assert len(rows) == len(want)
    for r in rows:
        assert (
            r["n_turns"],
            r["n_gaps"],
            r["n_shifts"],
            r["min_sim_micro"],
            r["mean_sim_micro"],
        ) == want[r["conv_id"]], r["conv_id"]


def test_topic_shift_crafted(spark, tmp_path, monkeypatch):
    """Three same-topic turns then an abrupt new topic: exactly one
    shift, at the planted position."""
    import readability_1_spark.queries as q

    rows = [
        ("conv-1", 0, "user", "alpha beta gamma alpha", None),
        ("conv-1", 1, "assistant", "alpha beta gamma", None),
        ("conv-1", 2, "user", "beta alpha gamma gamma", None),
        ("conv-1", 3, "assistant", "zulu yankee xray", None),
    ]
    pq_path = f"{tmp_path}/transcripts.parquet"
    spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string",
    ).write.parquet(pq_path)
    monkeypatch.setattr(q, "TRANSCRIPTS_PQ", pq_path)
    out = q.q_conversation_topic_shift(spark, SF).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_turns"], r["n_gaps"], r["n_shifts"]) == (4, 3, 1)
    assert r["min_sim_micro"] == 0  # disjoint vocabularies at the shift
