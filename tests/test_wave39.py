"""Wave 39: KV-cache prefix-sharing audit + OCR-noise triage +
instruction-complexity stratification.

Independent evidence beyond the DuckDB oracles: pure-Python replays over
the real corpora plus crafted corpora pinning cacheability, each OCR
signal, and the band thresholds."""

import hashlib
import re
from collections import defaultdict

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    CONSONANT_RUN_RE,
    CONSTRAINT_MARKERS,
    MIXED_ALNUM_PARTS,
    NUMBERED_REQ_RE,
    TRANSCRIPTS_PQ,
    instruction_complexity_frame,
    ocr_garbage_frame,
    q_instruction_complexity,
    q_ocr_garbage_detect,
    q_shared_prefix_stats,
    shared_prefix_frame,
)

from .replicas import _round_repr, _toks

SF = "/root/testdata/sf0.001"


# ------------------------------------------------------------ prefix cache

def test_shared_prefix_replica_real_corpus(spark):
    rows = pq.read_table(
        TRANSCRIPTS_PQ, columns=["conv_id", "turn_idx", "text"]
    ).to_pylist()
    groups = defaultdict(int)
    toks = {}
    for r in rows:
        if r["turn_idx"] != 0 or r["text"] is None:
            continue
        d = hashlib.md5(r["text"].encode()).hexdigest()
        groups[d] += 1
        toks[d] = len(_toks(r["text"]))
    want = {
        d: (n, toks[d], (n - 1) * toks[d], n >= 2)
        for d, n in groups.items()
    }
    got = {
        r["prefix_digest"]: (
            r["n_convs"], r["prefix_tokens"], r["tokens_saved"],
            r["cacheable"],
        )
        for r in q_shared_prefix_stats(spark, SF).collect()
    }
    assert got == want and want
    # conversations outnumber distinct prefixes ⇒ something IS cacheable
    assert any(v[3] for v in got.values())


def test_shared_prefix_crafted(spark):
    sys_prompt = "you are a helpful agent follow the rules"
    rows = [
        ("a", 0, "user", sys_prompt, None),
        ("b", 0, "user", sys_prompt, None),
        ("c", 0, "user", sys_prompt, None),
        ("d", 0, "user", "a unique one off prompt", None),
        ("a", 1, "user", sys_prompt, None),  # NOT turn 0 — ignored
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string"
    )
    got = {r["prefix_digest"]: r.asDict()
           for r in shared_prefix_frame(df).collect()}
    d = hashlib.md5(sys_prompt.encode()).hexdigest()
    assert got[d]["n_convs"] == 3
    assert got[d]["prefix_tokens"] == 8
    assert got[d]["tokens_saved"] == 16
    assert got[d]["cacheable"]
    d2 = hashlib.md5(b"a unique one off prompt").hexdigest()
    assert got[d2]["n_convs"] == 1 and not got[d2]["cacheable"]
    assert got[d2]["tokens_saved"] == 0


# -------------------------------------------------------------------- OCR

def test_ocr_garbage_replica_real_corpus(spark):
    docs = pq.read_table(
        f"{SF}/documents.parquet", columns=["doc_id", "text"]
    ).to_pylist()
    parts = [re.compile(p) for p in MIXED_ALNUM_PARTS]
    run_re = re.compile(CONSONANT_RUN_RE)
    want = {}
    for r in docs:
        low = r["text"].lower()
        ws = _toks(r["text"])
        n_chars = len(low)
        alnum = len(re.sub("[^a-z0-9]", "", low))
        singles = sum(1 for w in ws if len(w) == 1)
        mixed = sum(1 for w in ws if all(p.search(w) for p in parts))
        runs = [len(m) for m in run_re.findall(low)]
        mr = max(runs) if runs else 0
        ar = _round_repr(alnum / n_chars) if n_chars else 0.0
        sr = _round_repr(singles / len(ws)) if ws else 0.0
        want[r["doc_id"]] = (
            n_chars, len(ws), ar, sr, mixed, mr,
            ar < 0.6 or sr > 0.3 or mr >= 8,
        )
    got = {
        r["doc_id"]: (
            r["n_chars"], r["n_tokens"], r["alnum_ratio"],
            r["singleton_rate"], r["mixed_alnum_tokens"],
            r["max_consonant_run"], r["ocr_suspect"],
        )
        for r in q_ocr_garbage_detect(spark, SF).collect()
    }
    assert got == want and want


def test_ocr_garbage_crafted_signals(spark):
    rows = [
        ("prose", "a perfectly ordinary english sentence flows here"),
        ("symbols", "@@@ ### $$$ %%% ^^^ &&& *** ((( ))) !!!"),
        ("singles", "a b c d e f g h i j"),
        ("mixed", "th1s l00ks l1ke 0cr n01se every t0ken"),
        ("runs", "the strzhschk artifact merged columns"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict() for r in ocr_garbage_frame(df).collect()}
    assert not got["prose"]["ocr_suspect"]
    assert got["symbols"]["alnum_ratio"] == 0.0
    assert got["symbols"]["ocr_suspect"]
    assert got["singles"]["singleton_rate"] == 1.0
    assert got["singles"]["ocr_suspect"]
    assert got["mixed"]["mixed_alnum_tokens"] == 6  # all but "every"
    assert got["runs"]["max_consonant_run"] == 9  # strzhschk
    assert got["runs"]["ocr_suspect"]


# ----------------------------------------------------------- instruction

def test_instruction_complexity_replica_real_corpus(spark):
    rows = pq.read_table(
        TRANSCRIPTS_PQ, columns=["conv_id", "turn_idx", "role", "text"]
    ).to_pylist()
    num_re = re.compile(NUMBERED_REQ_RE)
    want = {}
    for r in rows:
        if r["role"] != "user" or r["text"] is None:
            continue
        low = r["text"].lower()
        cons = sum(low.count(m) for m in CONSTRAINT_MARKERS)
        numbered = len(num_re.findall(r["text"]))
        q = r["text"].count("?")
        nt = len(_toks(r["text"]))
        score = 2 * cons + 3 * numbered + q + nt // 100
        band = "high" if score >= 8 else "medium" if score >= 3 else "low"
        want[(r["conv_id"], r["turn_idx"])] = (
            cons, numbered, q, nt, score, band
        )
    got = {
        (r["conv_id"], r["turn_idx"]): (
            r["constraint_hits"], r["numbered_reqs"], r["question_marks"],
            r["n_tokens"], r["complexity_score"], r["complexity_band"],
        )
        for r in q_instruction_complexity(spark, SF).collect()
    }
    assert got == want and want


def test_instruction_complexity_crafted_bands(spark):
    long_tail = " ".join(f"w{i}" for i in range(100))
    rows = [
        ("c", 0, "user", "hi there", None),
        ("c", 1, "user", "you must ensure the output has at least "
         "three parts:\n1. intro\n2. body\n3. end — do not skip any?",
         None),
        ("c", 2, "user", "what time is it?", None),
        ("c", 3, "assistant", "must must must?", None),  # not a user turn
        ("c", 4, "user", long_tail, None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string"
    )
    got = {r["turn_idx"]: r.asDict()
           for r in instruction_complexity_frame(df).collect()}
    assert set(got) == {0, 1, 2, 4}
    assert got[0]["complexity_band"] == "low"
    assert got[0]["complexity_score"] == 0
    # "must ", "ensure ", "at least", "do not " = 4 markers; 3 numbered; 1 ?
    r1 = got[1]
    assert r1["constraint_hits"] == 4
    assert r1["numbered_reqs"] == 3
    assert r1["question_marks"] == 1
    assert r1["complexity_score"] == 2 * 4 + 3 * 3 + 1
    assert r1["complexity_band"] == "high"
    assert got[2]["complexity_band"] == "low"
    assert got[2]["question_marks"] == 1
    assert got[4]["n_tokens"] == 100
    assert got[4]["complexity_score"] == 1  # tokens div 100
