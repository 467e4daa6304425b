"""Wave 49: content-defined chunking dedup (LBFS/FastCDC shape),
TPC-H Q13 outer-join order-count histogram, RAKE keyword extraction.

Independent evidence beyond the DuckDB oracles: full pure-Python
replicas over the real sf0.001 parquet tables, plus crafted corpora
pinning CDC's defining re-alignment property (an insertion shifts only
the chunk it lands in — later chunks still dedup, where fixed windows
all miss), the zero-order Q13 bucket only an OUTER join produces, and
RAKE's degree/frequency scoring with its score/phrase tiebreak."""

import hashlib
import re
from collections import Counter, defaultdict

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    CDC_MOD,
    RAKE_MAX_PHRASE,
    RAKE_TOP_K,
    STOPWORDS,
    TOKEN_SPLIT,
    cdc_chunk_frame,
    order_count_distribution_frame,
    q_cdc_chunk_dedup,
    q_customer_order_distribution,
    q_rake_keywords,
    rake_frame,
)

from .replicas import _round_repr

SF = "/root/testdata/sf0.001"


def _words(text: str):
    return [w for w in re.split(TOKEN_SPLIT, text.lower()) if w]


def _md5_bucket(s: str, n: int) -> int:
    h = hashlib.md5(s.encode("utf-8")).hexdigest()
    acc = 0
    for i in range(8):
        acc = acc * 31 + ord(h[i])
    return acc % n


# ---------------------------------------------------- CDC chunk dedup


def _cdc_chunks(words):
    """List of (chunk_idx, [words]) under the boundary-after-hash rule."""
    chunks, cur, idx = [], [], 0
    for w in words:
        cur.append(w)
        if _md5_bucket(w, CDC_MOD) == 0:
            chunks.append((idx, cur))
            idx += 1
            cur = []
    if cur:
        chunks.append((idx, cur))
    return chunks


def _cdc_replica(docs):
    owner = {}
    per_doc_chunks = {}
    for doc_id in sorted(d["doc_id"] for d in docs):
        text = next(d["text"] for d in docs if d["doc_id"] == doc_id)
        ch = _cdc_chunks(_words(text or ""))
        per_doc_chunks[doc_id] = ch
        for idx, ws in ch:
            dg = hashlib.md5(" ".join(ws).encode()).hexdigest()
            key = f"{doc_id:012d}:{idx:08d}"
            if dg not in owner or key < owner[dg]:
                owner[dg] = key
    rows = {}
    for doc_id, ch in per_doc_chunks.items():
        n_dup = mass = total = 0
        for idx, ws in ch:
            dg = hashlib.md5(" ".join(ws).encode()).hexdigest()
            total += len(ws)
            if owner[dg] != f"{doc_id:012d}:{idx:08d}":
                n_dup += 1
                mass += len(ws)
        frac = _round_repr(mass / total) if total else None
        rows[doc_id] = (len(ch), n_dup, mass, frac)
    return rows


def test_cdc_chunk_dedup_replica(spark):
    docs = pq.read_table(f"{SF}/documents.parquet").to_pylist()
    want = _cdc_replica(docs)
    got = {
        r["doc_id"]: (
            r["n_chunks"],
            r["n_dup_chunks"],
            r["dup_word_mass"],
            r["dup_fraction"],
        )
        for r in q_cdc_chunk_dedup(spark, SF).collect()
    }
    assert got == want
    # the corpus has real duplicated chunks (planted duplicates exist)
    assert any(v[1] > 0 for v in got.values())


def test_cdc_realignment_property(spark):
    """The CDC selling point: an insertion at the FRONT of a document
    shifts every word offset, yet all chunks after the first boundary
    re-align and dedup.  A fixed-offset chunking would miss them all."""
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi "
        "omega red orange yellow green blue indigo violet silver gold"
    )
    docs = [
        (1, base),
        (2, "zzz yyy xxx " + base),  # front insertion
        (3, None),  # NULL text -> coverage row
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in cdc_chunk_frame(df).collect()}
    # replica agrees exactly
    want = _cdc_replica([{"doc_id": i, "text": t} for i, t in docs])
    for did, (nc, nd, mass, frac) in want.items():
        g = got[did]
        assert (
            g["n_chunks"],
            g["n_dup_chunks"],
            g["dup_word_mass"],
            g["dup_fraction"],
        ) == (nc, nd, mass, frac)
    # doc 1 owns its chunks; doc 2 re-aligns: every chunk after the one
    # containing the insertion is a duplicate of doc 1's
    ch1 = _cdc_chunks(_words(base))
    assert len(ch1) >= 3, "test corpus must produce several chunks"
    assert got[2]["n_dup_chunks"] >= len(ch1) - 1
    assert got[1]["n_dup_chunks"] == 0
    # NULL-text coverage row
    assert got[3] == {
        "doc_id": 3,
        "n_chunks": 0,
        "n_dup_chunks": 0,
        "dup_word_mass": 0,
        "dup_fraction": None,
    }


# ------------------------------------- customer order-count distribution


def test_customer_order_distribution_replica(spark):
    cust = pq.read_table(f"{SF}/customer.parquet").to_pylist()
    orders = pq.read_table(f"{SF}/orders.parquet").to_pylist()
    per_cust = Counter(o["o_custkey"] for o in orders)
    hist = Counter(per_cust.get(c["c_custkey"], 0) for c in cust)
    got = {
        r["c_count"]: r["custdist"]
        for r in q_customer_order_distribution(spark, SF).collect()
    }
    assert got == dict(hist)
    # histogram partitions the customer table exactly (sf0.001 happens to
    # have no zero-order customers; the crafted test pins that bucket)
    assert sum(got.values()) == len(cust)


def test_customer_order_distribution_outer_join_bucket(spark):
    cust = spark.createDataFrame(
        [(1,), (2,), (3,), (4,)], "c_custkey long"
    )
    orders = spark.createDataFrame(
        [(10, 1), (11, 1), (12, 2)], "o_orderkey long, o_custkey long"
    ).select("o_custkey")
    got = {
        r["c_count"]: r["custdist"]
        for r in order_count_distribution_frame(cust, orders).collect()
    }
    assert got == {0: 2, 1: 1, 2: 1}


# ------------------------------------------------------- RAKE keywords


def _rake_replica(docs):
    rows = []
    for d in docs:
        words = _words(d["text"] or "")
        # split into stopword-free runs
        phrases = defaultdict(list)  # phrase_id -> [(pos, word)]
        pid = 0
        for pos, w in enumerate(words):
            if w in STOPWORDS:
                pid += 1
            else:
                phrases[pid].append((pos, w))
        cands = {
            k: [w for _, w in v]
            for k, v in phrases.items()
            if len(v) <= RAKE_MAX_PHRASE
        }
        deg = Counter()
        freq = Counter()
        for ws in cands.values():
            for w in ws:
                deg[w] += len(ws)
                freq[w] += 1
        wscore = {w: (deg[w] * 1_000_000) // freq[w] for w in deg}
        scored = [
            (" ".join(ws), len(ws), sum(wscore[w] for w in ws))
            for ws in cands.values()
        ]
        scored.sort(key=lambda t: (-t[2], t[0]))
        for rank, (phrase, n, sc) in enumerate(scored[:RAKE_TOP_K], 1):
            rows.append((d["doc_id"], rank, phrase, n, sc))
    return sorted(rows)


def test_rake_keywords_replica(spark):
    docs = pq.read_table(f"{SF}/documents.parquet").to_pylist()
    want = _rake_replica(docs)
    got = sorted(
        (r["doc_id"], r["rank"], r["phrase"], r["n_words"], r["score_micro"])
        for r in q_rake_keywords(spark, SF).collect()
    )
    assert got == want


def test_rake_scoring_semantics(spark):
    """Hand-computed RAKE on a crafted doc: 'deep learning' (a 2-word
    collocation) must outrank the isolated repeated word 'systems', and
    equal scores break ties phrase-ASC."""
    text = (
        "deep learning of deep learning in systems and systems and "
        "systems of the ranking"
    )
    # candidates: [deep learning] x2, [systems] x3, [ranking]
    # deg: deep 4, learning 4, systems 3, ranking 1
    # freq: deep 2, learning 2, systems 3, ranking 1
    # wscore: deep 2.0, learning 2.0, systems 1.0, ranking 1.0 (micro 1e6)
    # phrase scores: 'deep learning' 4.0, 'systems' 1.0, 'ranking' 1.0
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = [
        (r["rank"], r["phrase"], r["n_words"], r["score_micro"])
        for r in rake_frame(df).orderBy("rank", "phrase").collect()
    ]
    # duplicate phrases each hold a candidate slot (classic RAKE scores
    # occurrences); tie between the two 'deep learning' occurrences and
    # then 'ranking' vs 'systems' breaks phrase-ASC
    assert got == [
        (1, "deep learning", 2, 4_000_000),
        (2, "deep learning", 2, 4_000_000),
        (3, "ranking", 1, 1_000_000),
    ]
