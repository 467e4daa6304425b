"""HLL error curve: estimated vs true cardinality at p ∈ {6, 11, 14}.

Measures the from-scratch deterministic HLL (queries.hll_estimate) on the
sf corpus's distinct (token, doc) pair stream — the same stream
hll_merge_by_source sketches — and on a synthetic high-cardinality column,
and prints a markdown table for COVERAGE.md.

Usage: python3 tools/hll_error_curve.py [sf_dir ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from readability_1_spark.queries import _words, hll_estimate  # noqa: E402
from readability_1_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dirs = sys.argv[1:] or ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
    spark = get_spark(app_name="hll-error-curve", master="local[8]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    cases = []
    for sf_dir in sf_dirs:
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        pairs = (
            docs.select("doc_id", F.explode(_words("text")).alias("tok"))
            .select(
                F.concat(
                    F.col("tok"), F.lit("#"), F.col("doc_id").cast("string")
                ).alias("term")
            )
            .localCheckpoint()
        )
        cases.append((f"(token,doc) pairs {os.path.basename(sf_dir)}", pairs))
    synth = spark.range(200_000).select(
        F.concat(F.lit("item-"), F.col("id").cast("string")).alias("term")
    ).localCheckpoint()
    cases.append(("synthetic 200k distinct", synth))

    print("| corpus | true distinct | p | m | est | rel err | expected SE |")
    print("|---|---|---|---|---|---|---|")
    for name, df in cases:
        truth = df.select(F.countDistinct("term")).collect()[0][0]
        for p in (6, 11, 14):
            row = hll_estimate(df, "term", p=p).collect()[0]
            rel = abs(row.hll_estimate - truth) / truth
            se = 1.04 / math.sqrt(1 << p)
            print(
                f"| {name} | {truth} | {p} | {1 << p} | {row.hll_estimate} "
                f"| {rel * 100:.1f}% | {se * 100:.1f}% |"
            )
    spark.stop()


if __name__ == "__main__":
    main()
