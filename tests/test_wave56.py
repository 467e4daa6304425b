"""Wave 56: deterministic Poisson bootstrap CI, per-tool failure rates,
classifier expected calibration error.

Independent evidence beyond the DuckDB oracles: a pure-Python replay of
the hash-drawn Poisson weights and replicate means (plus the
weight-distribution sanity the inverse-CDF constants imply), a crafted
transcript corpus exercising every failure-marker branch per tool, and
an ECE recomputation from the independently-attested calibration bins."""

import hashlib
import re
from collections import defaultdict

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    BOOT_B,
    BOOT_W_CAP,
    TRAJ_ERROR_MARKERS,
    TRAJ_STATUS_RE,
    _POIS1_CDF_MICRO,
    q_bootstrap_mean_ci,
    q_classifier_ece,
    q_quality_calibration_bins,
    q_tool_error_rate_by_tool,
    tool_error_frame,
)

from .replicas import _round_repr

SF = "/root/testdata/sf0.001"


def _md5_bucket(s: str, n: int) -> int:
    h = hashlib.md5(s.encode()).hexdigest()
    acc = 0
    for i in range(8):
        acc = acc * 31 + ord(h[i])
    return acc % n


def _pois_w(u: int) -> int:
    for k, t in enumerate(_POIS1_CDF_MICRO):
        if u < t:
            return k
    return BOOT_W_CAP


# ------------------------------------------------- Poisson bootstrap


def test_pois1_cdf_constants():
    import math

    cdf = 0.0
    p = math.exp(-1.0)
    for k, t in enumerate(_POIS1_CDF_MICRO):
        cdf += p
        assert abs(t - round(cdf * 1_000_000)) <= 1
        p /= k + 1


def test_bootstrap_mean_ci_replica(spark):
    docs = pq.read_table(f"{SF}/documents.parquet").to_pylist()
    agg = defaultdict(lambda: [0, 0])  # b -> [n_eff, mass]
    for d in docs:
        for b in range(BOOT_B):
            w = _pois_w(_md5_bucket(f"{d['doc_id']}:boot:{b}", 1_000_000))
            agg[b][0] += w
            agg[b][1] += w * d["n_chars"]
    want = {
        b: (n, _round_repr(m / n)) for b, (n, m) in agg.items()
    }
    got = {
        r["b"]: (r["n_eff"], r["mean_len"])
        for r in q_bootstrap_mean_ci(spark, SF).collect()
    }
    assert got == want
    assert len(got) == BOOT_B
    # Poisson(1) sanity: replicate effective n concentrates near n_docs
    n = len(docs)
    for n_eff, _ in got.values():
        assert 0.7 * n < n_eff < 1.3 * n
    # the replicate spread is non-degenerate (a real sampling distribution)
    means = sorted(m for _, m in got.values())
    assert means[0] < means[-1]


# --------------------------------------------- tool error rate by tool


def test_tool_error_rate_replica(spark):
    rows = pq.read_table(
        "tests/goldens/transcripts_smoke.parquet"
    ).to_pylist()
    agg = defaultdict(lambda: [0, set(), 0])
    for r in rows:
        if r["role"] != "tool" or r["tool"] is None or r["text"] is None:
            continue
        low = r["text"].lower()
        err = bool(re.search(TRAJ_STATUS_RE, low)) or any(
            m in low for m in TRAJ_ERROR_MARKERS
        )
        a = agg[r["tool"]]
        a[0] += 1
        a[1].add(r["conv_id"])
        a[2] += 1 if err else 0
    want = {
        t: (c, len(cv), e, _round_repr(e / c))
        for t, (c, cv, e) in agg.items()
    }
    got = {
        r["tool"]: (
            r["n_calls"], r["n_convs"], r["n_error_calls"], r["error_rate"]
        )
        for r in q_tool_error_rate_by_tool(spark, SF).collect()
    }
    assert got == want


def test_tool_error_rate_branches(spark):
    """Crafted corpus pins every marker class and the per-tool split."""
    rows = [
        ("c1", 0, "tool", "Traceback (most recent call last): boom", "py"),
        ("c1", 1, "tool", "all good here", "py"),
        ("c2", 0, "tool", "bash: foo: command not found", "sh"),
        ("c2", 1, "tool", "process exited with status 2", "sh"),
        ("c2", 2, "tool", "exited with status 0", "sh"),  # NOT an error
        ("c3", 0, "tool", None, "sh"),                    # NULL text drops
        ("c3", 1, "assistant", "fatal: not a tool turn", None),
        ("c3", 2, "tool", "fatal: repository not found", "git"),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string,"
        " tool string",
    )
    got = {
        r["tool"]: (r["n_calls"], r["n_convs"], r["n_error_calls"])
        for r in tool_error_frame(df).collect()
    }
    assert got == {
        "py": (2, 1, 1),
        "sh": (3, 1, 2),
        "git": (1, 1, 1),
    }


# ------------------------------------------------------ classifier ECE


def test_classifier_ece_consistency(spark):
    bins = q_quality_calibration_bins(spark, SF).collect()
    gap_mass = sum(
        abs(
            int(_round_repr(r["pos_rate"] * 1_000_000, 0))
            - int(_round_repr(r["mean_score"] * 1_000_000, 0))
        )
        * r["n_docs"]
        for r in bins
    )
    n = sum(r["n_docs"] for r in bins)
    want = (len(bins), n, _round_repr(gap_mass / (n * 1_000_000.0)))
    row = q_classifier_ece(spark, SF).collect()[0]
    assert (row["n_bins"], row["n_docs"], row["ece"]) == want
    assert 0.0 <= row["ece"] <= 1.0
