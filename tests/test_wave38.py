"""Wave 38: groundedness scoring (assistant claims vs prior tool
evidence) + contrastive pair mining + FIM span planning.

Independent evidence beyond the DuckDB oracles: pure-Python replays of
the gram polynomial, the chunk/bucket pairing and the span arithmetic
over the real corpora, plus crafted corpora pinning evidence ordering,
negative selection and span invariants."""

import hashlib
from collections import defaultdict

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    AES_KEY_MOD,
    CONTRAST_CHUNK,
    CONTRAST_HEAD,
    CONTRAST_NEG_BUCKETS,
    FIM_MIN_CHARS,
    GROUND_NGRAM,
    GROUND_P1,
    GROUND_P2,
    TRANSCRIPTS_PQ,
    contrastive_frame,
    fim_span_frame,
    grounding_frame,
    q_contrastive_pair_mining,
    q_fim_span_plan,
    q_grounding_overlap_score,
)

from .replicas import _md5_poly, _toks

SF = "/root/testdata/sf0.001"


def _grams(text: str) -> set:
    ws = _toks(text)
    ths = [_md5_poly(hashlib.md5(w.encode()).hexdigest(), GROUND_P1)
           for w in ws]
    out = set()
    for i in range(len(ths) - GROUND_NGRAM + 1):
        g1 = g2 = 0
        for t in ths[i:i + GROUND_NGRAM]:
            g1 = (g1 * 31 + t) % GROUND_P1
            g2 = (g2 * 37 + t) % GROUND_P2
        out.add(g1 * GROUND_P2 + g2)
    return out


# ---------------------------------------------------------------- grounding

def test_grounding_replica_real_corpus(spark):
    rows = pq.read_table(
        TRANSCRIPTS_PQ, columns=["conv_id", "turn_idx", "role", "text"]
    ).to_pylist()
    tool_first = {}
    asst = {}
    for r in rows:
        if r["text"] is None:
            continue
        if r["role"] == "tool":
            for g in _grams(r["text"]):
                k = (r["conv_id"], g)
                tool_first[k] = min(
                    tool_first.get(k, r["turn_idx"]), r["turn_idx"]
                )
        elif r["role"] == "assistant":
            asst[(r["conv_id"], r["turn_idx"])] = _grams(r["text"])
    want = {}
    for (cid, tix), gs in asst.items():
        n = len(gs)
        gr = sum(
            1 for g in gs
            if tool_first.get((cid, g), 10**9) < tix
        )
        score = round(gr / n, 6) if n else None
        verdict = (
            "short" if n == 0
            else "grounded" if score >= 0.5
            else "ungrounded"
        )
        want[(cid, tix)] = (n, gr, score, verdict)
    got = {
        (r["conv_id"], r["turn_idx"]): (
            r["n_grams"], r["n_grounded"], r["grounding_score"],
            r["grounding_verdict"],
        )
        for r in q_grounding_overlap_score(spark, SF).collect()
    }
    assert got == want and want


def test_grounding_crafted_evidence_ordering(spark):
    doc = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        # evidence BEFORE the claim → grounded
        ("c1", 0, "tool", doc, None),
        ("c1", 1, "assistant", doc, None),
        # evidence AFTER the claim → NOT grounded (no time travel)
        ("c2", 0, "assistant", doc, None),
        ("c2", 1, "tool", doc, None),
        # short assistant turn → verdict 'short'
        ("c3", 0, "tool", doc, None),
        ("c3", 1, "assistant", "too few words here", None),
        # no overlap at all → ungrounded
        ("c4", 0, "tool", doc, None),
        ("c4", 1, "assistant",
         "one two three four five six seven eight nine ten", None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string"
    )
    got = {
        (r["conv_id"], r["turn_idx"]): r.asDict()
        for r in grounding_frame(df).collect()
    }
    assert got[("c1", 1)]["grounding_verdict"] == "grounded"
    assert got[("c1", 1)]["grounding_score"] == 1.0
    assert got[("c2", 0)]["grounding_verdict"] == "ungrounded"
    assert got[("c2", 0)]["grounding_score"] == 0.0
    assert got[("c3", 1)]["grounding_verdict"] == "short"
    assert got[("c3", 1)]["n_grams"] == 0
    assert got[("c3", 1)]["grounding_score"] is None
    assert got[("c4", 1)]["grounding_verdict"] == "ungrounded"
    # only assistant turns appear
    assert all(k[0] != "c1" or k[1] == 1 for k in got if k[0] == "c1")


def test_grounding_partial_overlap_score(spark):
    # 10-token tool doc gives 3 grams; assistant repeats tokens 1..8 then
    # diverges → its first gram is evidenced, the rest are not
    tool = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    asst = "alpha beta gamma delta epsilon zeta eta theta novel words xx yy"
    df = spark.createDataFrame(
        [("c", 0, "tool", tool, None), ("c", 1, "assistant", asst, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string",
    )
    (r,) = grounding_frame(df).collect()
    n = len(_toks(asst)) - GROUND_NGRAM + 1
    assert r["n_grams"] == n
    assert r["n_grounded"] == 1
    assert r["grounding_score"] == round(1 / n, 6)


# -------------------------------------------------------------- contrastive

def test_contrastive_replica_real_corpus(spark):
    docs = pq.read_table(
        f"{SF}/documents.parquet", columns=["doc_id", "text"]
    ).to_pylist()
    info, by_bucket = {}, defaultdict(list)
    for r in docs:
        ws = _toks(r["text"])
        b = _md5_poly(str(r["doc_id"]), CONTRAST_NEG_BUCKETS)
        info[r["doc_id"]] = (ws, b)
        by_bucket[b].append(r["doc_id"])
    want = set()
    for did, (ws, b) in info.items():
        n_win = len(ws) // CONTRAST_CHUNK
        ids = sorted(by_bucket[b])
        min1 = ids[0]
        neg = min1 if did != min1 else (ids[1] if len(ids) > 1 else None)
        neg_head = (
            " ".join(info[neg][0][:CONTRAST_HEAD]) if neg is not None
            else None
        )
        for i in range(n_win - 1):
            want.add((
                did, i,
                " ".join(ws[i * CONTRAST_CHUNK:
                            i * CONTRAST_CHUNK + CONTRAST_HEAD]),
                " ".join(ws[(i + 1) * CONTRAST_CHUNK:
                            (i + 1) * CONTRAST_CHUNK + CONTRAST_HEAD]),
                neg, neg_head,
            ))
    got = {
        (r["doc_id"], r["win_idx"], r["anchor_head"], r["pos_head"],
         r["neg_doc_id"], r["neg_head"])
        for r in q_contrastive_pair_mining(spark, SF).collect()
    }
    assert got == want and want


def test_contrastive_crafted_negatives(spark):
    # craft doc_ids so buckets are known; 70 tokens ⇒ 2 windows ⇒ 1 pair
    text70 = " ".join(f"w{i}" for i in range(70))
    ids = list(range(1, 40))
    buckets = {i: _md5_poly(str(i), CONTRAST_NEG_BUCKETS) for i in ids}
    by_b = defaultdict(list)
    for i, b in buckets.items():
        by_b[b].append(i)
    multi = [b for b, lst in by_b.items() if len(lst) >= 2]
    assert multi, "fixture needs a shared bucket"
    b0 = multi[0]
    a, b = sorted(by_b[b0])[:2]
    solo_b = [bb for bb, lst in by_b.items() if len(lst) == 1]
    rows = [(a, text70), (b, text70)]
    if solo_b:
        solo = by_b[solo_b[0]][0]
        rows.append((solo, text70))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict() for r in contrastive_frame(df).collect()}
    # pairing: windows 0→1, heads are the first 5 tokens of each chunk
    assert got[a]["win_idx"] == 0
    assert got[a]["anchor_head"] == "w0 w1 w2 w3 w4"
    assert got[a]["pos_head"] == "w32 w33 w34 w35 w36"
    # min1 of the shared bucket is its own anchor → falls to min2
    assert got[a]["neg_doc_id"] == b
    assert got[b]["neg_doc_id"] == a
    if solo_b:
        assert got[rows[2][0]]["neg_doc_id"] is None
        assert got[rows[2][0]]["neg_head"] is None


def test_contrastive_short_docs_produce_no_pairs(spark):
    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(40)))], ["doc_id", "text"]
    )  # 40 tokens ⇒ 1 window ⇒ nothing to pair
    assert contrastive_frame(df).count() == 0


# --------------------------------------------------------------------- FIM

def test_fim_replica_and_invariants(spark):
    docs = pq.read_table(
        f"{SF}/documents.parquet", columns=["doc_id", "text"]
    ).to_pylist()
    want = {}
    for r in docs:
        n = len(r["text"])
        if n < FIM_MIN_CHARS:
            want[r["doc_id"]] = (n, "skip", 0, 0, 0, 0)
            continue
        h = _md5_poly(str(r["doc_id"]), AES_KEY_MOD)
        hm = _md5_poly(f"{r['doc_id']}:m", 2)
        mid_len = n // 4
        mid_start = 1 + h % (n - mid_len)
        want[r["doc_id"]] = (
            n, "psm" if hm == 0 else "spm", mid_start, mid_len,
            mid_start - 1, n - (mid_start - 1) - mid_len,
        )
    got = {
        r["doc_id"]: (
            r["n_chars"], r["fim_mode"], r["middle_start"],
            r["middle_len"], r["prefix_len"], r["suffix_len"],
        )
        for r in q_fim_span_plan(spark, SF).collect()
    }
    assert got == want and want
    # span invariants on every non-skip row
    modes = set()
    for n, mode, ms, ml, pl, sl in got.values():
        modes.add(mode)
        if mode != "skip":
            assert pl + ml + sl == n
            assert 1 <= ms and ms + ml - 1 <= n
            assert ml == n // 4 and ml >= 2
    assert "psm" in modes and "spm" in modes  # both modes exercised


def test_fim_crafted_skip_and_bounds(spark):
    rows = [(1, "tiny"), (2, "x" * 8), (3, "y" * 1000)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict() for r in fim_span_frame(df).collect()}
    assert got[1]["fim_mode"] == "skip"
    assert got[1]["middle_len"] == 0 and got[1]["prefix_len"] == 0
    assert got[2]["fim_mode"] in ("psm", "spm")
    assert got[2]["middle_len"] == 2
    assert got[3]["middle_len"] == 250
    for d in (2, 3):
        r = got[d]
        assert r["prefix_len"] + r["middle_len"] + r["suffix_len"] \
            == r["n_chars"]
