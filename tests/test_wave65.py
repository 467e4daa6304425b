"""Wave 65: stupid-backoff trigram LM scoring, shingle df spectrum,
referential-integrity audit.

Independent evidence beyond the DuckDB oracles: a full pure-Python
replica of the backoff scorer (shared by the real-corpus test and a
crafted corpus that provably exercises ALL FOUR backoff branches), an
integer-exact spectrum replica, and a crafted star schema with planted
orphans (including the NULL-FK case)."""

import hashlib
from collections import Counter, defaultdict

from readability_1_spark.queries import (
    BACKOFF_ALPHA,
    RI_RELATIONS,
    SPLIT_BUCKETS,
    SPLIT_TRAIN_LT,
    SPLIT_VAL_LT,
    q_referential_integrity_audit,
    q_shingle_df_spectrum,
    q_trigram_backoff_score,
)

from .replicas import _round6, _tbl, _toks

SF = "/root/testdata/sf0.001"


def _split_of(doc_id) -> str:
    h = hashlib.md5(str(doc_id).encode()).hexdigest()[:8]
    acc = 0
    for ch in h:
        acc = acc * 31 + ord(ch)
    b = acc % SPLIT_BUCKETS
    if b < SPLIT_TRAIN_LT:
        return "train"
    return "val" if b < SPLIT_VAL_LT else "test"


# ------------------------------------------ trigram backoff LM replica


def _backoff_replica(docs):
    """docs: list of (doc_id, text).  Returns ({key: row}, branch_hits)
    where key = (doc_id, split) and branch_hits counts tri/bi/uni/oov
    positions across all docs."""
    toked = {(d, _split_of(d)): _toks(t) for d, t in docs}
    c3, c2, c1 = Counter(), Counter(), Counter()
    for (d, sp), ws in toked.items():
        if sp != "train":
            continue
        for i in range(len(ws) - 2):
            c3[" ".join(ws[i : i + 3])] += 1
        for i in range(len(ws) - 1):
            c2[" ".join(ws[i : i + 2])] += 1
        for w in ws:
            c1[w] += 1
    t_toks = sum(c1.values())
    out, branches = {}, Counter()
    for (d, sp), ws in toked.items():
        n = max(len(ws) - 2, 0)
        if n == 0:
            out[(d, sp)] = (0, None, None)
            continue
        s_sum = bk = 0
        for i in range(n):
            g = " ".join(ws[i : i + 3])
            h2 = " ".join(ws[i : i + 2])
            b23 = " ".join(ws[i + 1 : i + 3])
            w3 = ws[i + 2]
            if c3.get(g):
                s = _round6(c3[g] / c2[h2])
                branches["tri"] += 1
            elif c2.get(b23):
                s = _round6(BACKOFF_ALPHA * _round6(c2[b23] / c1[ws[i + 1]]))
                bk += 1
                branches["bi"] += 1
            elif c1.get(w3):
                s = _round6(
                    BACKOFF_ALPHA * BACKOFF_ALPHA * _round6(c1[w3] / t_toks)
                )
                bk += 1
                branches["uni"] += 1
            else:
                s = 0.0
                bk += 1
                branches["oov"] += 1
            s_sum += int(round(s * 1e6))
        mean = ((2 * s_sum + n) // (2 * n)) / 1e6
        bf = ((2 * 1000000 * bk + n) // (2 * n)) / 1e6
        out[(d, sp)] = (n, mean, bf)
    return out, branches


def test_trigram_backoff_replica_real_corpus(spark):
    docs = [(r["doc_id"], r["text"]) for r in _tbl("documents", SF)]
    want, branches = _backoff_replica(docs)
    rows = q_trigram_backoff_score(spark, SF).collect()
    got = {
        (r["doc_id"], r["split"]): (
            r["n_positions"],
            r["mean_prob"],
            r["backoff_frac"],
        )
        for r in rows
    }
    assert got == want and len(got) == len(docs)
    # the real corpus must exercise the trigram hit AND at least one
    # backoff level (val/test docs contain train-unseen trigrams)
    assert branches["tri"] > 0 and (branches["bi"] + branches["uni"]) > 0


def test_trigram_backoff_crafted_branches(spark, tmp_path):
    # find one eval-split id to host the backoff branches
    eval_id = next(i for i in range(1, 4000) if _split_of(i) != "train")
    train_ids = [i for i in range(1, 4000) if _split_of(i) == "train"][:2]
    # eval positions: "a b c" tri hit; "b c e" unseen tri but bigram
    # "c e" in train -> bi branch; "c e f" tri hit (train doc 2);
    # "e f q" bigram "f q" unseen, "q" unseen -> oov; "f q a" bigram
    # "q a" unseen but "a" in train -> uni branch; "q a x" -> oov.
    docs = [
        (train_ids[0], "a b c a b d"),
        (train_ids[1], "c e f"),
        (eval_id, "a b c e f q a x"),
    ]
    want, branches = _backoff_replica(docs)
    assert all(branches[b] > 0 for b in ("tri", "bi", "uni", "oov"))
    spark.createDataFrame(
        [(d, t) for d, t in docs], "doc_id long, text string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    rows = q_trigram_backoff_score(spark, str(tmp_path)).collect()
    got = {
        (r["doc_id"], r["split"]): (
            r["n_positions"],
            r["mean_prob"],
            r["backoff_frac"],
        )
        for r in rows
    }
    assert got == want


def test_trigram_backoff_short_doc_coverage(spark, tmp_path):
    spark.createDataFrame(
        [(1, "one two"), (2, "")], "doc_id long, text string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    rows = q_trigram_backoff_score(spark, str(tmp_path)).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["n_positions"] == 0
        assert r["mean_prob"] is None and r["backoff_frac"] is None


# ------------------------------------------------- shingle df spectrum


def test_shingle_df_spectrum_replica(spark):
    per_doc = defaultdict(set)
    for r in _tbl("documents", SF):
        ws = _toks(r["text"])
        for i in range(len(ws) - 2):
            per_doc[" ".join(ws[i : i + 3])].add(r["doc_id"])
    want = defaultdict(lambda: [0, 0])
    for sh, ds in per_doc.items():
        b = len(ds).bit_length()
        want[b][0] += 1
        want[b][1] += len(ds)
    rows = q_shingle_df_spectrum(spark, SF).collect()
    got = {r["df_bucket"]: r for r in rows}
    assert set(got) == set(want) and want
    for b, (n, tot) in want.items():
        r = got[b]
        assert r["n_shingles"] == n
        assert r["total_doc_hits"] == tot
        assert r["df_lo"] == 1 << (b - 1)
        assert r["df_hi"] == (1 << b) - 1


# -------------------------------------------- referential integrity


def test_referential_integrity_real_tables_intact(spark):
    rows = q_referential_integrity_audit(spark, SF).collect()
    assert len(rows) == len(RI_RELATIONS)
    sizes = {t: len(_tbl(t, SF)) for t in
             {c for c, _, _, _ in RI_RELATIONS}}
    for r in rows:
        child = r["relation"].split(".")[0]
        assert r["n_child"] == sizes[child]
        assert r["n_orphans"] == 0 and r["intact"]


def test_referential_integrity_crafted_orphans(spark, tmp_path):
    spark.createDataFrame([(0,)], "r_regionkey long").write.parquet(
        f"{tmp_path}/region.parquet"
    )
    spark.createDataFrame(
        [(0, 0)], "n_nationkey long, n_regionkey long"
    ).write.parquet(f"{tmp_path}/nation.parquet")
    spark.createDataFrame(
        [(1, 0), (2, 7)], "c_custkey long, c_nationkey long"
    ).write.parquet(f"{tmp_path}/customer.parquet")  # cust 2 orphan nation
    spark.createDataFrame(
        [(1, 0)], "s_suppkey long, s_nationkey long"
    ).write.parquet(f"{tmp_path}/supplier.parquet")
    spark.createDataFrame(
        [(10, 1), (11, 1)], "o_orderkey long, o_custkey long"
    ).write.parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame([(5,)], "p_partkey long").write.parquet(
        f"{tmp_path}/part.parquet"
    )
    # line 1 ok; line 2: orphan orderkey + NULL suppkey (counted orphan)
    spark.createDataFrame(
        [(10, 5, 1), (99, 5, None)],
        "l_orderkey long, l_partkey long, l_suppkey long",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    rows = q_referential_integrity_audit(spark, str(tmp_path)).collect()
    got = {r["relation"]: (r["n_child"], r["n_orphans"], r["intact"])
           for r in rows}
    assert got["lineitem.l_orderkey -> orders.o_orderkey"] == (2, 1, False)
    assert got["lineitem.l_partkey -> part.p_partkey"] == (2, 0, True)
    assert got["lineitem.l_suppkey -> supplier.s_suppkey"] == (2, 1, False)
    assert got["orders.o_custkey -> customer.c_custkey"] == (2, 0, True)
    assert got["customer.c_nationkey -> nation.n_nationkey"] == (2, 1, False)
    assert got["supplier.s_nationkey -> nation.n_nationkey"] == (1, 0, True)
    assert got["nation.n_regionkey -> region.r_regionkey"] == (1, 0, True)
