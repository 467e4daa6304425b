"""Seeded transcripts tables for the benchmark, built Spark-side.

The HTML payloads are the committed smoke transcripts' tool turns
(`tests/goldens/transcripts_smoke.parquet`, one per golden), plus a few
deep-nesting pages that make deterministic stragglers.  A `spark.range`
skeleton gives each turn a conversation (a share of all turns goes to 4
hot conversations), a kind (HTML fetch or chat) and a payload; a
broadcast join attaches the payload text.

The written table has the transcripts schema plus one `payload` column
naming the payload each HTML turn carries.  The benchmark hands the
program only the transcripts columns; `payload` stays with the checks.

Run standalone to inspect an input:

    python3 perfbench/gen_input.py --seed 3 --out perfbench/out/input
"""

from __future__ import annotations

import argparse
import os
import sys

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SMOKE_PQ = os.path.join(ROOT, "tests", "goldens", "transcripts_smoke.parquet")
GOLDENS_PQ = os.path.join(ROOT, "tests", "goldens", "goldens.parquet")
TRANSCRIPT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

CHATTER = [
    "Sure, let me look into that for you.",
    "The command exited with status 0.",
    "Here is a summary of the findings so far: nothing conclusive.",
    "I will fetch the page and read the article body.",
    "<div><p>an html fragment that is not a full document</p></div>",
]
DEEP_DEPTHS = (400, 500, 600, 450)  # one HTML turn carries each deep page
HTML_EVERY = 4    # one turn in this many is an HTML fetch, the rest chat
HOT_SHARE = 0.3   # share of turns in the 4 hot conversations
HOT, COLD = 4, 97
STRIDE = 7919  # prime: r -> (r * STRIDE + seed) mod n permutes 0..n-1


def deep_page(depth: int) -> str:
    body = (
        f"<p>A paragraph nested {depth} levels down, with enough words, "
        "commas, and length to be scored as content by the algorithm.</p>"
    ) * 3
    return (
        f"<html><head><title>Deep page {depth}</title></head><body>"
        + "<div>" * depth + body + "</div>" * depth + "</body></html>"
    )


def payload_names() -> list[str]:
    """The smoke HTML turns' conv_ids: one per golden, in name order."""
    return sorted(pq.read_table(GOLDENS_PQ, columns=["conv_id"]).column(0).to_pylist())


def payload_rows(spark: SparkSession, names: list[str]) -> DataFrame:
    """(pid, payload, text): the smoke HTML turns (the tool turns of the
    goldens' conversations) keyed by their golden conv_id (pid 0..n-1 in
    name order), then the deep pages (pid n..)."""
    pids = spark.createDataFrame(list(enumerate(names)), "pid INT, payload STRING")
    smoke = (
        spark.read.parquet(SMOKE_PQ)
        .filter(F.col("role") == "tool")
        .select(F.col("conv_id").alias("payload"), "text")
        .join(F.broadcast(pids), "payload")
    )
    deep = spark.createDataFrame(
        [(len(names) + j, f"deep-{d}", deep_page(d))
         for j, d in enumerate(DEEP_DEPTHS)],
        "pid INT, payload STRING, text STRING",
    )
    return smoke.unionByName(deep)


def html_turns(n_pages: int) -> int:
    return n_pages + len(DEEP_DEPTHS)


def transcripts(spark: SparkSession, seed: int) -> DataFrame:
    """Every seed gets the same conversations and turns, and the same
    payloads (each smoke page and each deep page once), so the work per
    pass does not depend on the seed.  The deep pages always take the last
    HTML turns, so they land in the same partitions on every seed; the
    seed decides which HTML turn, and so which conversation and partition,
    each smoke page lands in, and the chat text."""
    names = payload_names()
    n_pages = len(names)
    pay = payload_rows(spark, names)
    n_turns = html_turns(n_pages) * HTML_EVERY
    n_hot = int(n_turns * HOT_SHARE)
    # HTML turn r < n_pages takes smoke page (r * STRIDE + seed) mod
    # n_pages, a seeded permutation; HTML turn n_pages + j takes deep page j.
    rank = F.floor(F.col("id") / HTML_EVERY)
    pid = F.when(rank >= n_pages, rank) \
        .otherwise(F.pmod(rank * STRIDE + seed, F.lit(n_pages)))
    chat = F.element_at(
        F.array(*[F.lit(c) for c in CHATTER]),
        (F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(len(CHATTER))) + 1).cast("int"))
    skel = (
        spark.range(n_turns)
        .withColumn("is_hot", F.col("id") < F.lit(n_hot))
        .withColumn(
            "conv_id",
            F.when(F.col("is_hot"),
                   F.concat(F.lit("hot-"), F.pmod("id", F.lit(HOT)).cast("string")))
            .otherwise(F.concat(F.lit("conv-"),
                                F.pmod(F.col("id") - n_hot, F.lit(COLD)).cast("string"))),
        )
        .withColumn(
            "turn_idx",
            F.when(F.col("is_hot"), F.floor(F.col("id") / HOT))
            .otherwise(F.floor((F.col("id") - n_hot) / COLD)).cast("int"),
        )
        .withColumn("pid", F.when(F.pmod("id", F.lit(HTML_EVERY)) == 0, pid))
    )
    joined = skel.join(F.broadcast(pay), "pid", "left")
    html = F.col("payload").isNotNull()
    return joined.select(
        "conv_id", "turn_idx",
        F.when(html, F.lit("tool")).when(F.pmod("id", F.lit(2)) == 0, F.lit("user"))
        .otherwise(F.lit("assistant")).alias("role"),
        F.coalesce("text", chat).alias("text"),
        F.when(html, F.lit("browser")).alias("tool"),
        F.timestamp_seconds(F.lit(1767225600) + F.col("id") * 7).alias("ts"),
        "payload",
    )


def write(spark: SparkSession, seed: int, out: str) -> int:
    """Write the input table to `out`; returns its number of HTML turns."""
    transcripts(spark, seed).write.mode("overwrite").parquet(out)
    return html_turns(len(payload_names()))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    from readability_1_spark.session import get_spark

    spark = get_spark(app_name="perfbench_gen", master="local[4]")
    try:
        write(spark, args.seed, args.out)
        print(spark.read.parquet(args.out).groupBy("role").count().collect())
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
