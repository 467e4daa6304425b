"""Wave 87: BPE merge stability, dedup survivorship bias, hourly
autocorrelation.

Independent evidence beyond the DuckDB oracles: a from-scratch Python
greedy-BPE trainer run on both corpus halves whose merge tables must
reproduce the engine's stability metrics exactly; a survivor-bias
replica seeded from the two attested subtrees; and an exact
milli-integer ACF replica plus a crafted 24-hour-periodic corpus whose
ACF peaks at lag 24 with a hand-derivable value."""

import datetime
import re
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    ACF_MAX_LAG,
    BPE_MERGES,
    BPE_STAB_TOPK,
    q_bpe_merge_stability,
    q_dedup_minhash_clusters,
    q_doc_quality_classifier,
    q_dedup_survivor_bias,
    q_event_hourly_autocorrelation,
)

from .replicas import _round6

SF = "/root/testdata/sf0.001"


# --------------------------------------------------- BPE stability


def _train_bpe(texts):
    words = Counter()
    for t in texts:
        for w in re.split(r"[^a-z0-9]+", t.lower()):
            if w:
                words[w] += 1
    state = {w: list(w) for w in words}
    merges = []
    for _rank in range(1, BPE_MERGES + 1):
        pairs = Counter()
        for w, syms in state.items():
            c = words[w]
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        (a, b), _cnt = best
        merges.append(a + b)
        for w, syms in state.items():
            out = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            state[w] = out
    return merges


def test_bpe_stability_replica(spark):
    recs = pq.read_table(f"{SF}/documents.parquet").to_pylist()
    even = [r["text"] for r in recs if r["doc_id"] % 2 == 0]
    odd = [r["text"] for r in recs if r["doc_id"] % 2 == 1]
    ma, mb = _train_bpe(even), _train_bpe(odd)
    ra = {m: i + 1 for i, m in enumerate(ma)}
    rb = {m: i + 1 for i, m in enumerate(mb)}
    common = set(ra) & set(rb)
    nc = len(common)
    sd2 = sum((ra[m] - rb[m]) ** 2 for m in common)
    topk = sum(
        1
        for m in common
        if ra[m] <= BPE_STAB_TOPK and rb[m] <= BPE_STAB_TOPK
    )
    rows = q_bpe_merge_stability(spark, SF).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["n_merges_a"], r["n_merges_b"], r["n_common"]) == (
        len(ma),
        len(mb),
        nc,
    )
    assert r["merge_jaccard"] == _round6(nc / (len(ma) + len(mb) - nc))
    assert r["topk_overlap"] == topk
    want_rho = (
        _round6((nc * (nc * nc - 1) - 6 * sd2) / (nc * (nc * nc - 1)))
        if nc >= 2
        else 0.0
    )
    assert r["spearman_common"] == want_rho
    assert -1.0 <= r["spearman_common"] <= 1.0


# --------------------------------------------------- survivor bias


def test_survivor_bias_replica(spark):
    lens = {
        r["doc_id"]: len(r["text"])
        for r in pq.read_table(f"{SF}/documents.parquet").to_pylist()
    }
    scored = {
        r["doc_id"]: (
            int(
                Decimal(repr(r["score"] * 1_000_000)).quantize(
                    Decimal(1), ROUND_HALF_UP
                )
            ),
            r["pred"],
        )
        for r in q_doc_quality_classifier(spark, SF).collect()
    }
    groups = defaultdict(list)
    for r in q_dedup_minhash_clusters(spark, SF).collect():
        if r["cluster_size"] >= 2:
            groups["kept" if r["is_keeper"] else "dropped"].append(
                r["doc_id"]
            )
    rows = {r["group"]: r for r in
            q_dedup_survivor_bias(spark, SF).collect()}
    assert set(rows) == set(groups)
    for g, ids in groups.items():
        n = len(ids)
        sl = sum(lens[d] for d in ids)
        sm = sum(scored[d][0] for d in ids)
        sp = sum(scored[d][1] for d in ids)
        r = rows[g]
        assert (
            r["n_docs"],
            r["mean_len"],
            r["mean_score_micro"],
            r["pass_rate"],
        ) == (
            n,
            (2 * sl + n) // (2 * n),
            (2 * sm + n) // (2 * n),
            _round6(sp / n),
        )
    # every duplicate cluster keeps exactly one member
    n_clusters = len(
        {
            r["cluster_id"]
            for r in q_dedup_minhash_clusters(spark, SF).collect()
            if r["cluster_size"] >= 2
        }
    )
    assert rows["kept"]["n_docs"] == n_clusters


# --------------------------------------------------- hourly ACF


def _acf_replica(counts_by_hour):
    hours = sorted(counts_by_hour)
    ns = [counts_by_hour[h] for h in hours]
    h = len(ns)
    s = sum(ns)
    mean_milli = (2 * 1000 * s + h) // (2 * h)
    c = [n * 1000 - mean_milli for n in ns]
    den = sum(x * x for x in c)
    out = {}
    for k in range(1, ACF_MAX_LAG + 1):
        num = sum(c[i] * c[i + k] for i in range(h - k))
        out[k] = (h - k, _round6(num / den))
    return out


def test_acf_replica(spark):
    counts = defaultdict(int)
    for r in pq.read_table(f"{SF}/events.parquet").to_pylist():
        counts[r["ts"].replace(minute=0, second=0, microsecond=0)] += 1
    want = _acf_replica(counts)
    rows = {r["lag"]: r for r in
            q_event_hourly_autocorrelation(spark, SF).collect()}
    assert set(rows) == set(want)
    for k, (n_pairs, acf) in want.items():
        assert (rows[k]["n_pairs"], rows[k]["acf"]) == (n_pairs, acf)
        assert -1.0 <= rows[k]["acf"] <= 1.0


def test_acf_crafted_daily_period(spark, tmp_path):
    """Counts with exact period 24 over 5 days: the replica's exact
    value at lag 24 must match and be the maximum across all lags."""
    base = [3 + (i % 24 == 7) * 9 + (i % 24 == 19) * 5 for i in range(120)]
    d0 = datetime.datetime(2024, 3, 1)
    rows = []
    eid = 0
    counts = {}
    for i, k in enumerate(base):
        ts = d0 + datetime.timedelta(hours=i)
        counts[ts] = k
        for _ in range(k):
            eid += 1
            rows.append((eid, ts, 1, "click", 1.0, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    want = _acf_replica(counts)
    got = {r["lag"]: r["acf"] for r in
           q_event_hourly_autocorrelation(
               spark, str(tmp_path)).collect()}
    for k in want:
        assert got[k] == want[k][1]
    assert got[24] == max(got.values())
    assert got[24] > 0.7  # the daily period dominates
