"""Wave 69: MLM masking plan, HLL pairwise intersection estimates,
per-tool runtime stats.

Independent evidence beyond the DuckDB oracles: a pure-hashlib replica
of the 15%/80-10-10 masking plan (every row, including the vocab-draw
for the random branch); exact-set replicas of every pairwise overlap
with the inclusion-exclusion identity and a crafted known-overlap
corpus; and a timestamp-delta replica of the runtime rollup."""

import hashlib
from collections import Counter

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    MLM_MASK_LT,
    MLM_RAND_EQ,
    MLM_SEL_PCT,
    TRANSCRIPTS_PQ,
    q_hll_intersection_estimate,
    q_mlm_masking_plan,
    q_tool_runtime_stats,
)

from .replicas import _toks

SF = "/root/testdata/sf0.001"


def _poly(key: str) -> int:
    h = hashlib.md5(key.encode()).hexdigest()[:8]
    acc = 0
    for ch in h:
        acc = acc * 31 + ord(ch)
    return acc


def _shingles(ws):
    return {
        " ".join(ws[i : i + 3]) for i in range(len(ws) - 2)
    }


# --------------------------------------------------- mlm masking


def test_mlm_masking_replica(spark):
    docs = pq.read_table(f"{SF}/documents.parquet").to_pylist()
    vocab = sorted({t for r in docs for t in _toks(r["text"])})
    nv = len(vocab)
    want = {}
    n_positions = 0
    for r in docs:
        for i, tok in enumerate(_toks(r["text"]), start=1):
            n_positions += 1
            if _poly(f"{r['doc_id']}:{i}:{tok}") % 100 >= MLM_SEL_PCT:
                continue
            rb = _poly(f"r:{r['doc_id']}:{i}") % 10
            if rb < MLM_MASK_LT:
                action, repl = "mask", "[MASK]"
            elif rb == MLM_RAND_EQ:
                action = "random"
                repl = vocab[_poly(f"v:{r['doc_id']}:{i}") % nv]
            else:
                action, repl = "keep", tok
            want[(r["doc_id"], i)] = (tok, action, repl)
    rows = q_mlm_masking_plan(spark, SF).collect()
    got = {
        (r["doc_id"], r["pos"]): (r["token"], r["action"], r["replacement"])
        for r in rows
    }
    assert got == want
    # all three actions exercised; selection rate near 15%
    acts = Counter(a for _, a, _ in got.values())
    assert acts["mask"] > 0 and acts["random"] > 0 and acts["keep"] > 0
    rate = len(got) / n_positions
    assert 0.10 < rate < 0.20
    # keep rows echo the original; random rows draw from the vocab
    for (d, p), (tok, a, repl) in got.items():
        if a == "keep":
            assert repl == tok
        if a == "random":
            assert repl in vocab


# --------------------------------------------------- hll intersection


def test_hll_intersection_exact_replica(spark):
    docs = pq.read_table(f"{SF}/documents.parquet").to_pylist()
    per_src = {}
    for r in docs:
        per_src.setdefault(r["source"], set()).update(
            _shingles(_toks(r["text"]))
        )
    rows = q_hll_intersection_estimate(spark, SF).collect()
    srcs = sorted(per_src)
    assert len(rows) == len(srcs) * (len(srcs) - 1) // 2
    nonzero = 0
    for r in rows:
        a, b = per_src[r["source_a"]], per_src[r["source_b"]]
        assert r["source_a"] < r["source_b"]
        assert r["exact_a"] == len(a) and r["exact_b"] == len(b)
        assert r["exact_intersection"] == len(a & b)
        assert r["exact_union"] == len(a | b)
        # inclusion-exclusion identity holds row-by-row on the sketch side
        assert r["est_intersection"] == round(
            r["est_a"] + r["est_b"] - r["est_union"], 3
        )
        # sketch error bound: p=11 gives ~2.3% per estimate; allow a
        # generous combined budget on the differenced estimator (which
        # may dip slightly NEGATIVE for disjoint-ish pairs — expected
        # noise of inclusion-exclusion, not an error)
        budget = 0.15 * max(r["exact_union"], 1) + 50
        assert abs(r["est_intersection"] - r["exact_intersection"]) <= budget
        nonzero += r["exact_intersection"] > 0
    # the corpus's sources genuinely overlap somewhere
    assert nonzero > 0


def test_hll_intersection_crafted_overlap(spark, tmp_path):
    """Two sources with a planted 50%-overlap shingle universe: the
    estimator lands near truth in the linear-counting regime."""
    mk = lambda ws: " ".join(ws)
    # source A covers words a0..a149, source B covers a75..a224 (shifted)
    words = [f"w{i:03d}" for i in range(225)]
    docs = [
        (1, mk(words[0:150]), "srcA"),
        (2, mk(words[75:225]), "srcB"),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, source string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    [r] = q_hll_intersection_estimate(spark, str(tmp_path)).collect()
    # shingle sets: contiguous 3-gram windows; overlap = windows fully
    # inside words[75:150] as seen by BOTH (same contiguous text)
    a = _shingles(words[0:150])
    b = _shingles(words[75:225])
    assert r["exact_a"] == len(a) == 148
    assert r["exact_b"] == len(b) == 148
    assert r["exact_intersection"] == len(a & b) == 73
    assert abs(r["est_intersection"] - 73) <= 15
    assert abs(r["est_union"] - 223) <= 15


# --------------------------------------------------- tool runtime


def test_tool_runtime_replica(spark):
    turns = sorted(
        pq.read_table(TRANSCRIPTS_PQ).to_pylist(),
        key=lambda r: (r["conv_id"], r["turn_idx"]),
    )
    agg = {}
    for i, r in enumerate(turns):
        if r["role"] != "tool" or r["tool"] is None:
            continue
        nxt = (
            turns[i + 1]
            if i + 1 < len(turns)
            and turns[i + 1]["conv_id"] == r["conv_id"]
            else None
        )
        rt = (
            int((nxt["ts"] - r["ts"]).total_seconds()) if nxt else None
        )
        a = agg.setdefault(r["tool"], [])
        a.append(rt)
    rows = q_tool_runtime_stats(spark, SF).collect()
    assert len(rows) == len(agg) >= 1
    for r in rows:
        rts = agg[r["tool"]]
        timed = [x for x in rts if x is not None]
        assert r["n_calls"] == len(rts)
        assert r["n_timed"] == len(timed)
        assert r["total_sec"] == (sum(timed) if timed else None)
        assert r["min_sec"] == (min(timed) if timed else None)
        assert r["max_sec"] == (max(timed) if timed else None)
        want_mean = (
            (2 * sum(timed) + len(timed)) // (2 * len(timed))
            if timed
            else None
        )
        assert r["mean_sec"] == want_mean
        assert r["n_timed"] >= 1
