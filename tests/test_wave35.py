"""Wave 35: mojibake/encoding triage + deterministic training-shuffle
plan + license/robots compliance scan.

Independent evidence beyond the DuckDB oracles: pure-Python replays of
the substring-count identities and the md5 shuffle polynomial over the
real corpora, plus crafted corpora pinning every branch (planted
mojibake/control chars, license markers, verdict precedence)."""

import re
from collections import defaultdict

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    CTRL_RE,
    MOJIBAKE_SEQS,
    REPL_CHAR,
    SHUFFLE_EPOCHS,
    SHUFFLE_KEY_MOD,
    SHUFFLE_SHARDS,
    TRANSCRIPTS_PQ,
    license_frame,
    mojibake_frame,
    q_license_notice_scan,
    q_mojibake_detect,
    q_training_shuffle_plan,
)

from .replicas import _md5_poly

SF = "/root/testdata/sf0.001"

_CTRL = re.compile(CTRL_RE)


def test_mojibake_replica_real_corpus(spark):
    docs = pq.read_table(
        f"{SF}/documents.parquet", columns=["doc_id", "text"]
    ).to_pylist()
    want = {}
    for r in docs:
        t = r["text"]
        moji = sum(t.count(p) for p in MOJIBAKE_SEQS)
        ctrl = len(_CTRL.findall(t))
        repl = t.count(REPL_CHAR)
        want[r["doc_id"]] = (
            len(t), repl, moji, ctrl, repl > 0 or moji > 0 or ctrl > 0
        )
    got = {
        r["doc_id"]: (
            r["n_chars"], r["repl_chars"], r["mojibake_hits"],
            r["ctrl_chars"], r["encoding_suspect"],
        )
        for r in q_mojibake_detect(spark, SF).collect()
    }
    assert got == want
    # the synthetic corpus is clean ascii — the verdict column still has
    # to exist and be uniformly False (coverage, not vacuous truth)
    assert want and not any(v[4] for v in want.values())


def test_mojibake_crafted_branches(spark):
    rows = [
        ("clean", "plain ascii text, nothing wrong"),
        ("moji", "cafÃ© menu â€™s specials"),
        ("repl", "lost � bytes � here"),
        ("ctrl", "bell\x07and\x01soh but \ttab\nnewline are fine"),
        ("mixed", "Ã©�\x02"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict() for r in mojibake_frame(df).collect()}
    assert not got["clean"]["encoding_suspect"]
    assert got["moji"]["mojibake_hits"] == 2  # Ã© + â€™
    assert got["moji"]["repl_chars"] == 0 and got["moji"]["encoding_suspect"]
    assert got["repl"]["repl_chars"] == 2 and got["repl"]["encoding_suspect"]
    assert got["ctrl"]["ctrl_chars"] == 2  # \x07 \x01; \t \n excluded
    assert got["mixed"]["mojibake_hits"] == 1
    assert got["mixed"]["repl_chars"] == 1
    assert got["mixed"]["ctrl_chars"] == 1


def test_shuffle_plan_replica_and_permutation_properties(spark):
    out = [r.asDict() for r in q_training_shuffle_plan(spark, SF).collect()]
    doc_ids = {
        r["doc_id"]
        for r in pq.read_table(
            f"{SF}/documents.parquet", columns=["doc_id"]
        ).to_pylist()
    }
    assert len(out) == len(doc_ids) * SHUFFLE_EPOCHS
    per_shard = defaultdict(list)
    order = {}
    for r in out:
        # replica of the epoch-keyed polynomial, shard and key
        k = _md5_poly(f"{r['doc_id']}:{r['epoch']}", SHUFFLE_KEY_MOD)
        assert r["shuffle_key"] == k
        assert r["shard"] == k % SHUFFLE_SHARDS
        per_shard[(r["epoch"], r["shard"])].append((r["slot"], k, r["doc_id"]))
        order[(r["epoch"], r["doc_id"])] = (r["shard"], r["slot"])
    # slots are contiguous 1..n within each (epoch, shard) and ordered by
    # (key, doc_id)
    for rows in per_shard.values():
        rows.sort()
        assert [s for s, _, _ in rows] == list(range(1, len(rows) + 1))
        assert rows == sorted(rows, key=lambda t: (t[1], t[2]))
    # each epoch covers every doc exactly once
    for e in range(SHUFFLE_EPOCHS):
        assert {d for (ep, d) in order if ep == e} == doc_ids
    # the two epochs produce genuinely different permutations
    perm0 = sorted(order[(0, d)] for d in doc_ids)
    by0 = sorted(doc_ids, key=lambda d: order[(0, d)])
    by1 = sorted(doc_ids, key=lambda d: order[(1, d)])
    assert by0 != by1
    assert len(perm0) == len(doc_ids)


def test_license_scan_replica_and_crafted_verdicts(spark):
    rows = pq.read_table(
        TRANSCRIPTS_PQ, columns=["conv_id", "turn_idx", "text"]
    ).to_pylist()
    gate = re.compile(r"(?i)<html|<!doctype\s+html")
    want = {}
    for r in rows:
        t = r["text"]
        if t is None or not gate.search(t):
            continue
        low = t.lower()
        rel = 'rel="license"' in low or "rel='license'" in low
        cc = low.count("creativecommons.org")
        noi = "noindex" in low
        nof = "nofollow" in low
        verdict = (
            "cc_marked" if rel or cc > 0
            else "noindex_restricted" if noi
            else "unmarked"
        )
        want[(r["conv_id"], r["turn_idx"])] = (rel, cc, noi, nof, verdict)
    got = {
        (r["conv_id"], r["turn_idx"]): (
            r["has_rel_license"], r["cc_links"], r["has_noindex"],
            r["has_nofollow"], r["license_verdict"],
        )
        for r in q_license_notice_scan(spark, SF).collect()
    }
    assert got == want and want

    crafted = [
        ("c", 0, "user", "<html><a rel=\"license\" href=\"x\">L</a></html>"),
        ("c", 1, "user",
         "<html><a href='https://creativecommons.org/licenses/by/4.0/'>cc"
         "</a> and <meta name='robots' content='noindex'></html>"),
        ("c", 2, "user",
         "<html><meta name='robots' content='noindex,nofollow'></html>"),
        ("c", 3, "user", "<html><p>plain page</p></html>"),
        ("c", 4, "user", "not html at all"),
        ("c", 5, "user", None),
    ]
    df = spark.createDataFrame(
        crafted, ["conv_id", "turn_idx", "role", "text"]
    )
    out = {r["turn_idx"]: r.asDict() for r in license_frame(df).collect()}
    assert set(out) == {0, 1, 2, 3}  # gate drops non-html + NULL
    assert out[0]["license_verdict"] == "cc_marked"
    assert out[0]["has_rel_license"] and out[0]["cc_links"] == 0
    # cc link WINS over noindex in the same document (precedence)
    assert out[1]["license_verdict"] == "cc_marked" and out[1]["cc_links"] == 1
    assert out[1]["has_noindex"]
    assert out[2]["license_verdict"] == "noindex_restricted"
    assert out[2]["has_nofollow"]
    assert out[3]["license_verdict"] == "unmarked"
