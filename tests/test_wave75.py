"""Wave 75: per-call tool latency anomalies, supplier fulfillment lag,
embedding norm outliers.

Independent evidence beyond the DuckDB oracles: bit-exact pure-Python
replicas of all three z/lag folds (integer moments, repr-Decimal
rounding for the Spark-side round stages), a crafted lateness-boundary
corpus (60 days is NOT late, 61 is), and a crafted embedding corpus
with a planted zero vector that must flag as the outlier."""

import datetime
import math
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    ANOMALY_Z_MICRO,
    FULFILL_LATE_DAYS,
    TRANSCRIPTS_PQ,
    q_embedding_norm_outliers,
    q_supplier_fulfillment_lag,
    q_tool_latency_anomaly,
)

from .replicas import _round6

SF = "/root/testdata/sf0.001"


def _round0(x):
    return int(Decimal(repr(float(x))).quantize(Decimal("1"), ROUND_HALF_UP))


def _z_micro(n, s1, s2, v):
    var_n = n * s2 - s1 * s1
    if n < 2 or var_n <= 0:
        return 0
    return _round0(float(n * v - s1) * 1_000_000.0 / math.sqrt(float(var_n)))


# --------------------------------------------------- tool latency


def test_latency_replica_real_corpus(spark):
    recs = pq.read_table(TRANSCRIPTS_PQ).to_pylist()
    by_conv = defaultdict(list)
    for r in recs:
        by_conv[r["conv_id"]].append(r)
    calls = []
    for conv, turns in by_conv.items():
        turns.sort(key=lambda r: r["turn_idx"])
        for cur, nxt in zip(turns, turns[1:] + [None]):
            if cur["role"] == "tool" and cur["tool"] is not None:
                rt = (
                    int((nxt["ts"] - cur["ts"]).total_seconds())
                    if nxt is not None
                    else None
                )
                calls.append((conv, cur["turn_idx"], cur["tool"], rt))
    mom = defaultdict(lambda: [0, 0, 0])
    for _, _, tool, rt in calls:
        if rt is not None:
            m = mom[tool]
            m[0] += 1
            m[1] += rt
            m[2] += rt * rt
    rows = q_tool_latency_anomaly(spark, SF).collect()
    assert len(rows) == len(calls) == 105
    want = {(c, t): (tool, rt) for c, t, tool, rt in calls}
    for r in rows:
        tool, rt = want[(r["conv_id"], r["turn_idx"])]
        assert (r["tool"], r["runtime_sec"]) == (tool, rt)
        n, s1, s2 = mom.get(tool, (0, 0, 0))
        assert r["n_timed"] == n
        if rt is None:
            assert r["z_micro"] is None and not r["is_anomaly"]
        else:
            zm = _z_micro(n, s1, s2, rt)
            assert r["z_micro"] == zm
            assert r["is_anomaly"] == (abs(zm) >= ANOMALY_Z_MICRO)
    # the corpus times every call (each tool turn has a next turn)
    assert all(r["runtime_sec"] is not None for r in rows)


# --------------------------------------------------- supplier lag


def test_supplier_lag_replica_real_corpus(spark):
    li = pq.read_table(
        f"{SF}/lineitem.parquet",
        columns=["l_orderkey", "l_suppkey", "l_shipdate"],
    ).to_pylist()
    odate = {
        r["o_orderkey"]: r["o_orderdate"]
        for r in pq.read_table(f"{SF}/orders.parquet").to_pylist()
    }
    names = {
        r["s_suppkey"]: r["s_name"]
        for r in pq.read_table(f"{SF}/supplier.parquet").to_pylist()
    }
    lags = defaultdict(list)
    for r in li:
        lag = (r["l_shipdate"].date() - odate[r["l_orderkey"]].date()).days
        lags[r["l_suppkey"]].append(lag)
    rows = q_supplier_fulfillment_lag(spark, SF).collect()
    assert len(rows) == len(lags)
    for r in rows:
        g = lags[r["suppkey"]]
        n = len(g)
        late = sum(1 for x in g if x > FULFILL_LATE_DAYS)
        assert r["s_name"] == names[r["suppkey"]]
        assert (
            r["n_items"],
            r["min_lag_days"],
            r["max_lag_days"],
            r["mean_lag_days"],
            r["n_late"],
        ) == (n, min(g), max(g), (2 * sum(g) + n) // (2 * n), late)
        assert r["late_frac"] == _round6(late / n)


def test_supplier_lag_crafted_boundary(spark, tmp_path):
    """Supplier 1 ships at exactly +60d (NOT late) and +61d (late):
    late_frac = 0.5, mean = half-up(60.5) = 61."""
    base = datetime.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(100, base)], "o_orderkey long, o_orderdate timestamp"
    ).write.parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        [
            (100, 1, base + datetime.timedelta(days=60)),
            (100, 1, base + datetime.timedelta(days=61)),
        ],
        "l_orderkey long, l_suppkey long, l_shipdate timestamp",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    spark.createDataFrame(
        [(1, "Supplier#1", 0, 0.0)],
        "s_suppkey long, s_name string, s_nationkey long, s_acctbal double",
    ).write.parquet(f"{tmp_path}/supplier.parquet")
    out = q_supplier_fulfillment_lag(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_items"], r["n_late"], r["late_frac"]) == (2, 1, 0.5)
    assert (r["min_lag_days"], r["max_lag_days"], r["mean_lag_days"]) == (
        60,
        61,
        61,
    )


# --------------------------------------------------- norm outliers


def _norm_k(vec):
    nsq = 0
    for v in vec:
        t = _round0(float(v) * 1e6)
        nsq += t * t
    return _round0(math.sqrt(float(nsq)) / 1000.0)


def test_norm_outliers_replica_real_corpus(spark):
    recs = pq.read_table(f"{SF}/embeddings.parquet").to_pylist()
    nk = {r["vec_id"]: _norm_k(r["embedding"]) for r in recs}
    n = len(nk)
    s1 = sum(nk.values())
    s2 = sum(v * v for v in nk.values())
    rows = q_embedding_norm_outliers(spark, SF).collect()
    assert len(rows) == n
    for r in rows:
        assert r["norm_k"] == nk[r["vec_id"]]
        zm = _z_micro(n, s1, s2, nk[r["vec_id"]])
        assert r["z_micro"] == zm
        assert r["is_outlier"] == (abs(zm) >= ANOMALY_Z_MICRO)


def test_norm_outliers_crafted_zero_vector(spark, tmp_path):
    """20 unit-ish vectors + one zero vector: the zero vector is the
    single outlier (|z| far beyond 3 sigma), the others stay clean."""
    pts = [(i, [1.0, 0.0], 0) for i in range(20)] + [(20, [0.0, 0.0], 0)]
    spark.createDataFrame(
        pts, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")
    rows = {r["vec_id"]: r for r in
            q_embedding_norm_outliers(spark, str(tmp_path)).collect()}
    assert rows[20]["norm_k"] == 0
    assert rows[20]["is_outlier"]
    assert all(not rows[i]["is_outlier"] for i in range(20))
    nk = {i: _norm_k([1.0, 0.0]) for i in range(20)}
    nk[20] = 0
    s1, s2 = sum(nk.values()), sum(v * v for v in nk.values())
    for i, r in rows.items():
        assert r["z_micro"] == _z_micro(21, s1, s2, nk[i])
