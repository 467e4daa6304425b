"""Wave 76: language-ID confusion matrix, MinHash band occupancy,
conversation context-replay cost.

Independent evidence beyond the DuckDB oracles: a confusion-matrix
replica seeded by the oracle-verified lang_id operator's own rows; a
pure-hashlib replica of the per-band bucket histogram with the
C(size,2) pair-count identity; and a pure-Python prefix-sum replica
including the replay = sum((n-i) * tok_i) closed form."""

import hashlib
import re
from collections import defaultdict

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    N_BANDS,
    N_MINHASH,
    TRANSCRIPTS_PQ,
    q_conversation_context_growth,
    q_doc_language_confusion,
    q_lang_id,
    q_minhash_band_occupancy,
)

from .replicas import _round6

SF = "/root/testdata/sf0.001"


# --------------------------------------------------- language confusion


def test_language_confusion_replica(spark):
    li = q_lang_id(spark, SF).collect()
    cells = defaultdict(int)
    n_label = defaultdict(int)
    for r in li:
        cells[(r["lang"], r["guessed_lang"])] += 1
        n_label[r["lang"]] += 1
    rows = q_doc_language_confusion(spark, SF).collect()
    assert len(rows) == len(cells)
    for r in rows:
        key = (r["lang_label"], r["guessed_lang"])
        assert r["n"] == cells[key]
        assert r["n_label"] == n_label[r["lang_label"]]
        assert r["share"] == _round6(cells[key] / n_label[r["lang_label"]])
        assert r["is_diagonal"] == (r["lang_label"] == r["guessed_lang"])
    # reconciliation: row shares partition each label's documents
    assert sum(r["n"] for r in rows) == len(li)


# --------------------------------------------------- band occupancy


def test_band_occupancy_replica(spark):
    texts = {
        r["doc_id"]: r["text"]
        for r in pq.read_table(f"{SF}/documents.parquet").to_pylist()
    }
    per_band = N_MINHASH // N_BANDS
    buckets = defaultdict(int)
    hashed_docs = 0
    for doc_id, text in texts.items():
        ws = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        sh = {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}
        if not sh:
            continue
        hashed_docs += 1
        mh = [
            min(hashlib.md5(f"{s}:{x}".encode()).hexdigest() for x in sh)
            for s in range(N_MINHASH)
        ]
        for band in range(N_BANDS):
            sig = hashlib.md5(
                ",".join(mh[band * per_band : (band + 1) * per_band]).encode()
            ).hexdigest()
            buckets[(band, sig)] += 1
    want = {}
    for band in range(N_BANDS):
        sizes = [v for (b, _), v in buckets.items() if b == band]
        want[band] = (
            len(sizes),
            sum(sizes),
            max(sizes),
            sum(1 for s in sizes if s >= 2),
            sum(s * (s - 1) // 2 for s in sizes),
        )
    rows = q_minhash_band_occupancy(spark, SF).collect()
    assert len(rows) == N_BANDS
    for r in rows:
        assert (
            r["n_buckets"],
            r["n_docs"],
            r["max_bucket"],
            r["n_collision_buckets"],
            r["candidate_pairs"],
        ) == want[r["band"]]
        assert r["n_docs"] == hashed_docs  # every hashed doc in each band


# --------------------------------------------------- context growth


def test_context_growth_replica(spark):
    recs = pq.read_table(TRANSCRIPTS_PQ).to_pylist()
    by_conv = defaultdict(list)
    for r in recs:
        # Java \s is ASCII-only (Python's is Unicode-aware)
        toks = len(
            [t for t in re.split(r"[ \t\n\x0b\f\r]+", r["text"] or "") if t]
        )
        by_conv[r["conv_id"]].append((r["turn_idx"], toks))
    rows = q_conversation_context_growth(spark, SF).collect()
    assert len(rows) == len(by_conv)
    for r in rows:
        turns = sorted(by_conv[r["conv_id"]])
        toks = [t for _, t in turns]
        n = len(toks)
        total = sum(toks)
        # replay = sum of running prefixes = sum((n - i) * tok_i)
        replay = sum((n - i) * t for i, t in enumerate(toks))
        prefixes = []
        acc = 0
        for t in toks:
            acc += t
            prefixes.append(acc)
        assert replay == sum(prefixes)
        assert (
            r["n_turns"],
            r["total_tokens"],
            r["replay_tokens"],
            r["peak_context"],
            r["mean_context"],
        ) == (n, total, replay, total, (2 * replay + n) // (2 * n))
