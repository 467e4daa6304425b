"""Wave 71: 1-bit minhash estimator, split stratification audit,
classifier length-bias audit.

Independent evidence beyond the DuckDB oracles: a pure-hashlib replica
of the packed 1-bit signatures and all three Jaccard figures per
candidate pair; an exact contingency-grid replica including
zero-observed cells; and an integer-sums Pearson replica that also
DOCUMENTS the audit's finding (the linear quality model is ~a length
proxy on this corpus, r > 0.9)."""

import hashlib

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    N_MINHASH,
    SPLIT_BUCKETS,
    SPLIT_TRAIN_LT,
    SPLIT_VAL_LT,
    q_bbit_minhash_estimate,
    q_doc_quality_classifier,
    q_quality_length_bias,
    q_split_balance_audit,
)

from .replicas import _round6, _toks

SF = "/root/testdata/sf0.001"


def _shingle_set(text):
    ws = _toks(text)
    return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}


def _split_of(doc_id):
    h = hashlib.md5(str(doc_id).encode()).hexdigest()[:8]
    acc = 0
    for ch in h:
        acc = acc * 31 + ord(ch)
    b = acc % SPLIT_BUCKETS
    if b < SPLIT_TRAIN_LT:
        return "train"
    return "val" if b < SPLIT_VAL_LT else "test"


# --------------------------------------------------- bbit minhash


def test_bbit_replica_real_corpus(spark):
    texts = {
        r["doc_id"]: r["text"]
        for r in pq.read_table(f"{SF}/documents.parquet").to_pylist()
    }
    sets = {d: _shingle_set(t) for d, t in texts.items()}

    def sig(d):
        return [
            min(
                hashlib.md5(f"{s}:{sh}".encode()).hexdigest()
                for sh in sets[d]
            )
            for s in range(N_MINHASH)
        ]

    rows = q_bbit_minhash_estimate(spark, SF).collect()
    assert len(rows) > 0
    for r in rows:
        a, b = sig(r["doc_a"]), sig(r["doc_b"])
        pa = sum(
            (1 << s) for s in range(N_MINHASH) if int(a[s][-1], 16) % 2
        )
        pb = sum(
            (1 << s) for s in range(N_MINHASH) if int(b[s][-1], 16) % 2
        )
        ham = bin(pa ^ pb).count("1")
        n_eq = sum(a[s] == b[s] for s in range(N_MINHASH))
        inter = len(sets[r["doc_a"]] & sets[r["doc_b"]])
        union = len(sets[r["doc_a"]] | sets[r["doc_b"]])
        j = _round6(inter / union)
        j1 = _round6((N_MINHASH - 2 * ham) / N_MINHASH)
        jf = _round6(n_eq / N_MINHASH)
        assert r["hamming_1bit"] == ham
        assert r["j_est_1bit"] == j1
        assert r["j_est_full"] == jf
        assert r["j_exact"] == j
        assert r["err_1bit"] == _round6(abs(j1 - j))
        assert r["err_full"] == _round6(abs(jf - j))
        # the defining identity: identical full signatures -> 0 hamming
        if n_eq == N_MINHASH:
            assert ham == 0 and r["j_est_1bit"] == 1.0


# --------------------------------------------------- split balance


def test_split_balance_replica(spark):
    docs = pq.read_table(f"{SF}/documents.parquet").to_pylist()
    obs, nsrc, nspl = {}, {}, {}
    for r in docs:
        sp = _split_of(r["doc_id"])
        obs[(r["source"], sp)] = obs.get((r["source"], sp), 0) + 1
        nsrc[r["source"]] = nsrc.get(r["source"], 0) + 1
        nspl[sp] = nspl.get(sp, 0) + 1
    n = len(docs)
    rows = q_split_balance_audit(spark, SF).collect()
    # complete grid: every source x every OBSERVED split value
    assert len(rows) == len(nsrc) * len(nspl)
    got_total = 0
    for r in rows:
        o = obs.get((r["source"], r["split"]), 0)
        got_total += r["observed"]
        e_mu = (1_000_000 * nsrc[r["source"]] * nspl[r["split"]]) // n
        assert r["observed"] == o
        assert r["n_source"] == nsrc[r["source"]]
        assert r["n_split"] == nspl[r["split"]]
        assert r["expected_mu"] == e_mu
        want = (
            _round6((o * 1_000_000 - e_mu) ** 2 / (e_mu * 1_000_000))
            if e_mu > 0
            else None
        )
        assert r["chi2_contrib"] == want
    assert got_total == n
    # zero-observed cells surface (tiny val/test splits miss sources)
    assert any(r["observed"] == 0 for r in rows)


# --------------------------------------------------- length bias


def test_quality_length_bias_replica(spark):
    scores = {
        r["doc_id"]: round(r["score"] * 1_000_000)
        for r in q_doc_quality_classifier(spark, SF).collect()
    }
    lens = {
        r["doc_id"]: len(r["text"])
        for r in pq.read_table(f"{SF}/documents.parquet").to_pylist()
    }
    xs = [(lens[d], scores[d]) for d in scores]
    n = len(xs)
    sx = sum(x for x, _ in xs)
    sy = sum(y for _, y in xs)
    sxx = sum(x * x for x, _ in xs)
    syy = sum(y * y for _, y in xs)
    sxy = sum(x * y for x, y in xs)
    cov = n * sxy - sx * sy
    vx, vy = n * sxx - sx * sx, n * syy - sy * sy
    [r] = q_quality_length_bias(spark, SF).collect()
    assert r["n"] == n == 500
    assert r["mean_len"] == (2 * sx + n) // (2 * n)
    assert r["mean_score_mu"] == (2 * sy + n) // (2 * n)
    assert r["pearson_r"] == _round6(cov / (float(vx) * float(vy)) ** 0.5)
    assert r["slope_mu_per_char"] == _round6(cov / vx)
    # the audit's point: the linear quality model is ~a length proxy
    # on this corpus — the number a dataset card must disclose
    assert r["pearson_r"] > 0.9
