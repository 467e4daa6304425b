"""Wave 90: shuffle runs test, event overdispersion, embedding MMD.

Independent evidence beyond the DuckDB oracles: a runs-count replica
seeded from the attested shuffle plan (plus a crafted perfectly
alternating and a fully clumped sequence checked through the formula);
a complete-grid variance replica with a crafted bursty-vs-steady
corpus; and an exact micro-integer MMD replica with the zero-MMD
identity on identical populations."""

import datetime
import math
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    EMB_DIM,
    OVERDISP_BAR,
    RUNS_Z_CRIT_MILLI,
    q_embedding_mmd_poly,
    q_event_overdispersion,
    q_shuffle_runs_test,
    q_training_shuffle_plan,
)

from .replicas import _round6

SF = "/root/testdata/sf0.001"


def _r0(x):
    return int(Decimal(repr(float(x))).quantize(Decimal(1), ROUND_HALF_UP))


def _runs_z(n, n1, n2, runs):
    mu = 2.0 * n1 * n2 / n + 1
    var = 2.0 * n1 * n2 * (2.0 * n1 * n2 - n) / (float(n) * n * (n - 1))
    return _r0((runs - mu) * 1000.0 / math.sqrt(var))


# --------------------------------------------------- runs test


def test_runs_replica(spark):
    srcs = {
        r["doc_id"]: r["source"]
        for r in pq.read_table(f"{SF}/documents.parquet").to_pylist()
    }
    counts = defaultdict(int)
    for s in srcs.values():
        counts[s] += 1
    top = min(counts, key=lambda s: (-counts[s], s))
    seqs = defaultdict(list)
    for r in q_training_shuffle_plan(spark, SF).collect():
        seqs[(r["epoch"], r["shard"])].append(
            (r["slot"], int(srcs[r["doc_id"]] == top))
        )
    rows = {(r["epoch"], r["shard"]): r for r in
            q_shuffle_runs_test(spark, SF).collect()}
    for key, seq in seqs.items():
        seq.sort()
        marks = [m for _, m in seq]
        n, n1 = len(marks), sum(marks)
        n2 = n - n1
        if n1 == 0 or n2 == 0:
            assert key not in rows
            continue
        runs = 1 + sum(
            1 for a, b in zip(marks, marks[1:]) if a != b
        )
        r = rows[key]
        assert (r["n"], r["n1"], r["n2"], r["runs"]) == (n, n1, n2, runs)
        z = _runs_z(n, n1, n2, runs)
        assert r["z_milli"] == z
        assert r["random_ok"] == (abs(z) < RUNS_Z_CRIT_MILLI)
    # the AES-keyed shuffle should pass the randomness bar nearly
    # everywhere (an occasional tail shard is tolerated)
    ok = sum(1 for r in rows.values() if r["random_ok"])
    assert ok >= max(1, int(0.8 * len(rows)))


def test_runs_formula_extremes():
    """Alternating marks maximize runs (z >> 0); clumped marks minimize
    them (z << 0) — the two failure directions the audit separates."""
    n = 40
    z_alt = _runs_z(n, 20, 20, 40)  # ABAB...: runs = n
    z_clump = _runs_z(n, 20, 20, 2)  # AAAA...BBBB: runs = 2
    assert z_alt > RUNS_Z_CRIT_MILLI
    assert z_clump < -RUNS_Z_CRIT_MILLI


# --------------------------------------------------- overdispersion


def test_overdispersion_replica(spark):
    cnt = defaultdict(lambda: defaultdict(int))
    hours = set()
    for r in pq.read_table(f"{SF}/events.parquet").to_pylist():
        h = r["ts"].replace(minute=0, second=0, microsecond=0)
        hours.add(h)
        cnt[r["event_type"]][h] += 1
    rows = {r["event_type"]: r for r in
            q_event_overdispersion(spark, SF).collect()}
    assert set(rows) == set(cnt)
    for et, by_h in cnt.items():
        cs = [by_h.get(h, 0) for h in hours]
        H, S = len(cs), sum(cs)
        sq = sum(c * c for c in cs)
        ratio = _round6((H * sq - S * S) / ((H - 1) * S))
        r = rows[et]
        assert (r["n_hours"], r["n_events"]) == (H, S)
        assert r["mean_milli"] == (2 * 1000 * S + H) // (2 * H)
        assert r["dispersion_ratio"] == ratio
        assert r["overdispersed"] == (ratio > OVERDISP_BAR)


def test_overdispersion_crafted(spark, tmp_path):
    """steady: one event every hour (ratio 0 — constant); bursty: all
    48 events in two hours (ratio >> 1.5)."""
    d0 = datetime.datetime(2024, 5, 1)
    rows = []
    eid = 0
    for i in range(48):
        eid += 1
        rows.append((eid, d0 + datetime.timedelta(hours=i), 1,
                     "steady", 1.0, "{}"))
    for i in range(48):
        eid += 1
        rows.append((eid, d0 + datetime.timedelta(hours=i % 2), 1,
                     "bursty", 1.0, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    got = {r["event_type"]: r for r in
           q_event_overdispersion(spark, str(tmp_path)).collect()}
    assert got["steady"]["dispersion_ratio"] == 0.0
    assert not got["steady"]["overdispersed"]
    assert got["bursty"]["overdispersed"]
    assert got["bursty"]["dispersion_ratio"] > 5.0


# --------------------------------------------------- MMD


def _mmd_replica(groups):
    ms = {}
    for g, vecs in groups.items():
        n = len(vecs)
        m = {}
        for i in range(EMB_DIM):
            for j in range(i, EMB_DIM):
                sp = sum(v[i] * v[j] for v in vecs)
                mean_pico = (
                    (2 * sp + n) // (2 * n)
                    if sp >= 0
                    else -((2 * (-sp) + n) // (2 * n))
                )
                mm = (
                    (mean_pico + 500) // 1000
                    if mean_pico >= 0
                    else -((-mean_pico + 500) // 1000)
                )
                m[(i, j)] = mm
        ms[g] = (n, m)
    fro = sum(
        (ms[0][1][k] - ms[1][1][k]) ** 2 * (1 if k[0] == k[1] else 2)
        for k in ms[0][1]
    )
    return ms[0][0], ms[1][0], _round6(fro / 1_000_000_000_000.0)


def test_mmd_replica(spark):
    groups = defaultdict(list)
    for r in pq.read_table(f"{SF}/embeddings.parquet").to_pylist():
        if r["label"] in (0, 1):
            groups[r["label"]].append(
                [_r0(float(v) * 1_000_000) for v in r["embedding"]]
            )
    n0, n1, mmd = _mmd_replica(groups)
    r = q_embedding_mmd_poly(spark, SF).collect()[0]
    assert (r["n0"], r["n1"]) == (n0, n1)
    assert r["mmd2_poly"] == mmd
    assert r["mmd2_poly"] >= 0.0


def test_mmd_identical_populations(spark, tmp_path):
    """The same vectors under both labels: MMD^2 is exactly 0."""
    vecs = [
        [0.1 * ((i + d) % 7 - 3) for d in range(EMB_DIM)]
        for i in range(20)
    ]
    rows = [(i, v, 0) for i, v in enumerate(vecs)]
    rows += [(100 + i, v, 1) for i, v in enumerate(vecs)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")
    r = q_embedding_mmd_poly(spark, str(tmp_path)).collect()[0]
    assert (r["n0"], r["n1"]) == (20, 20)
    assert r["mmd2_poly"] == 0.0
