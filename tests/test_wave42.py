"""Wave 42: temporal split assignment + refusal-rate triage + known-item
retrieval MRR eval.

Independent evidence beyond the DuckDB oracles: pure-Python replays over
the real corpora, the no-time-leakage ordering property, crafted refusal
corpora, and an idf-ranking replica of the self-retrieval eval."""

import math
from collections import defaultdict

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    MRR_N_QUERIES,
    MRR_QUERY_TERMS,
    REFUSAL_MARKERS,
    TIME_TRAIN_PCT,
    TIME_VAL_PCT,
    TRANSCRIPTS_PQ,
    q_refusal_rate_scan,
    q_search_mrr_eval,
    q_time_split_assign,
    refusal_frame,
)

from .replicas import _md5_poly, _toks

SF = "/root/testdata/sf0.001"


# ------------------------------------------------------------- time split

def test_time_split_replica_and_no_leakage(spark):
    ev = pq.read_table(
        f"{SF}/events.parquet", columns=["event_id", "ts"]
    ).to_pylist()
    us = {
        r["event_id"]: int(r["ts"].timestamp() * 1_000_000)
        for r in ev
    }
    t0, t1 = min(us.values()), max(us.values())
    cut_tr = t0 + ((t1 - t0) * TIME_TRAIN_PCT) // 100
    cut_va = t0 + ((t1 - t0) * TIME_VAL_PCT) // 100
    want = {
        eid: (
            t,
            "train" if t < cut_tr else "val" if t < cut_va else "test",
        )
        for eid, t in us.items()
    }
    got = {
        r["event_id"]: (r["ts_us"], r["split"])
        for r in q_time_split_assign(spark, SF).collect()
    }
    assert got == want and want
    # leakage-safe ordering: max(train) < min(val) <= max(val) < min(test)
    by_split = defaultdict(list)
    for t, s in got.values():
        by_split[s].append(t)
    assert by_split["train"] and by_split["val"] and by_split["test"]
    assert max(by_split["train"]) < min(by_split["val"])
    assert max(by_split["val"]) < min(by_split["test"])
    # the split is time-proportional, not count-proportional — but train
    # must still dominate on a uniform-ish stream
    n = len(got)
    assert len(by_split["train"]) > n // 2


# --------------------------------------------------------------- refusals

def test_refusal_replica_real_corpus(spark):
    rows = pq.read_table(
        TRANSCRIPTS_PQ, columns=["conv_id", "turn_idx", "role", "text"]
    ).to_pylist()
    convs = defaultdict(list)
    for r in rows:
        if r["role"] == "assistant" and r["text"] is not None:
            low = r["text"].lower()
            hit = any(m in low for m in REFUSAL_MARKERS)
            convs[r["conv_id"]].append((r["turn_idx"], hit))
    want = {}
    for cid, turns in convs.items():
        turns.sort()
        n = len(turns)
        k = sum(1 for _, h in turns if h)
        want[cid] = (n, k, round(k / n, 6), turns[0][1])
    got = {
        r["conv_id"]: (
            r["n_assistant_turns"], r["n_refusal_turns"],
            r["refusal_rate"], r["first_turn_refusal"],
        )
        for r in q_refusal_rate_scan(spark, SF).collect()
    }
    assert got == want and want


def test_refusal_crafted_branches(spark):
    rows = [
        ("c1", 0, "assistant", "Sure, here's the code you asked for.", None),
        ("c1", 1, "assistant", "I can't help with that request.", None),
        ("c2", 0, "assistant", "I'm sorry, but I am unable to do this.", None),
        ("c2", 1, "assistant", "Here is an alternative approach.", None),
        ("c3", 0, "user", "i can't even", None),       # user turns ignored
        ("c3", 1, "assistant", "As an AI, I cannot comply.", None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string"
    )
    got = {r["conv_id"]: r.asDict() for r in refusal_frame(df).collect()}
    assert got["c1"]["n_refusal_turns"] == 1
    assert got["c1"]["refusal_rate"] == 0.5
    assert not got["c1"]["first_turn_refusal"]  # first turn complied
    assert got["c2"]["first_turn_refusal"]
    assert got["c2"]["refusal_rate"] == 0.5
    assert got["c3"]["n_assistant_turns"] == 1  # the user turn is ignored
    assert got["c3"]["n_refusal_turns"] == 1
    assert got["c3"]["first_turn_refusal"]


# -------------------------------------------------------------------- MRR

def test_mrr_replica_and_self_retrieval(spark):
    docs = pq.read_table(
        f"{SF}/documents.parquet", columns=["doc_id", "text"]
    ).to_pylist()
    tf = defaultdict(lambda: defaultdict(int))
    for r in docs:
        for w in _toks(r["text"]):
            tf[r["doc_id"]][w] += 1
    df_cnt = defaultdict(int)
    for did, bag in tf.items():
        for w in bag:
            df_cnt[w] += 1
    n_docs = len(docs)
    qdocs = sorted(
        (d["doc_id"] for d in docs),
        key=lambda d: (_md5_poly(str(d), 1000000007), d),
    )[:MRR_N_QUERIES]
    want = {}
    for qd in qdocs:
        terms = sorted(tf[qd], key=lambda w: (df_cnt[w], w))[:MRR_QUERY_TERMS]
        scores = defaultdict(float)
        for w in terms:
            idf = math.log(
                1.0 + (n_docs - df_cnt[w] + 0.5) / (df_cnt[w] + 0.5)
            )
            for did, bag in tf.items():
                if w in bag:
                    scores[did] += idf
        ranked = sorted(
            ((round(s, 6), did) for did, s in scores.items()),
            key=lambda p: (-p[0], p[1]),
        )
        rank = next(
            i for i, (_s, did) in enumerate(ranked, 1) if did == qd
        )
        want[qd] = (len(ranked), rank, round(1.0 / rank, 6), rank == 1)
    got = {
        r["query_doc_id"]: (
            r["n_candidates"], r["self_rank"], r["reciprocal_rank"],
            r["top1_hit"],
        )
        for r in q_search_mrr_eval(spark, SF).collect()
    }
    assert got == want
    assert len(got) == MRR_N_QUERIES
    # every query's own doc is always a candidate
    assert all(v[1] <= v[0] for v in got.values())
    # honest corpus property: this synthetic corpus is template-generated
    # from a shared phrase pool, so dozens of docs contain every "rare"
    # query term and self-retrieval fails — exactly the duplication
    # failure a falling MRR exposes.  (The crafted corpus below proves
    # the operator itself ranks correctly when vocabulary discriminates.)
    mrr = sum(v[2] for v in got.values()) / len(got)
    assert mrr < 0.5


def test_mrr_crafted_distinctive_vocab_top1(spark):
    from readability_1_spark.queries import mrr_frame

    # 40 docs, each with its own unique vocabulary ⇒ rare terms have df=1
    # and self-retrieval must be perfect (MRR 1.0)
    rows = [
        (i, " ".join(f"uniq{i}tok{j}" for j in range(12)) + " shared filler")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["query_doc_id"]: r.asDict() for r in mrr_frame(df).collect()}
    assert len(got) == MRR_N_QUERIES
    for r in got.values():
        assert r["self_rank"] == 1
        assert r["top1_hit"]
        assert r["reciprocal_rank"] == 1.0
        # df=1 terms ⇒ the only candidate matching them is self
        assert r["n_candidates"] >= 1
