"""Deterministic synthetic transcripts tables (FIXTURES.md §1).

Schema is the BASELINE.json input_hint, exactly:
  conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
  ts:timestamp

Payload HTML is the reference fixture corpus (the equality target) plus a
few edge cases, read from the committed smoke table
tests/goldens/transcripts_smoke.parquet; non-HTML chatter, fragments, and
parse-error snippets are mixed in so the pipeline's gating and status
handling are exercised.  conv_id row counts are deliberately skewed (a few
conversations carry many turns) to exercise the per-turn shuffle.

Built Spark-side for scale: a `spark.range`-derived skeleton is joined to a
broadcast fixture-payload dimension, so the builder itself never collects or
loops on the driver and works at any row count.
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

SMOKE_PQ = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "goldens", "transcripts_smoke.parquet",
)

CHATTER = [
    "Sure — let me look into that for you.",
    "The command exited with status 0.",
    "",
    "Here's a summary of the findings so far: nothing conclusive.",
    "<div><p>an html fragment that is not a full document</p></div>",
]

TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), True),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("ts", TimestampType(), True),
    ]
)

_EPOCH = datetime.datetime(2026, 1, 1)


def _payloads() -> list[tuple[int, str, str]]:
    """(payload_id, slug, html) for every fixture page + edge case: turn 1
    of each conv-<slug> in the committed smoke table, numbered in the
    order of its turn 0's ts (smoke_transcripts stamps payload pid's turn
    0 at _EPOCH + pid minutes, so this recovers the ids it was built
    with)."""
    import pyarrow.parquet as pq

    rows = pq.read_table(
        SMOKE_PQ, columns=["conv_id", "turn_idx", "text", "ts"]
    ).to_pylist()
    ts0 = {r["conv_id"]: r["ts"] for r in rows if r["turn_idx"] == 0}
    html = {r["conv_id"]: r["text"] for r in rows if r["turn_idx"] == 1}
    convs = sorted(html, key=ts0.__getitem__)
    return [(pid, conv[len("conv-"):], html[conv]) for pid, conv in enumerate(convs)]


def smoke_transcripts(spark: SparkSession) -> DataFrame:
    """t1 tier: one HTML turn per fixture/edge payload inside per-slug
    conversations, interleaved with chatter turns.  ~320 rows."""
    rows = []
    for pid, slug, html in _payloads():
        conv = f"conv-{slug}"
        ts0 = _EPOCH + datetime.timedelta(minutes=pid)
        rows.append((conv, 0, "user", CHATTER[pid % len(CHATTER)], None, ts0))
        rows.append(
            (conv, 1, "tool", html, "browser", ts0 + datetime.timedelta(seconds=30))
        )
        rows.append(
            (conv, 2, "assistant", CHATTER[(pid + 1) % len(CHATTER)], None,
             ts0 + datetime.timedelta(seconds=60))
        )
    return spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)


def scaled_transcripts(spark: SparkSession, n_turns: int, skew: float = 0.3,
                       seed: int = 42) -> DataFrame:
    """Deterministic scaled table: `n_turns` rows, HTML payloads replicated
    across conversations with a skewed conv_id distribution.

    skew: fraction of all turns funneled into just 4 hot conversations —
    models the few-huge-conversations shape called out by the north rule.
    Pure DataFrame construction (range + broadcast join): no driver loops,
    scales to arbitrary n_turns.
    """
    payloads = _payloads()
    pay_df = spark.createDataFrame(
        [(p[0], p[1], p[2]) for p in payloads], "payload_id INT, slug STRING, html STRING"
    )
    n_payloads = len(payloads)
    hot = 4
    cold = 997
    n_hot_total = int(n_turns * skew)
    # turn_idx is derived ARITHMETICALLY from id (no window): the first
    # n_hot_total ids round-robin into the `hot` conversations, the rest
    # round-robin into `cold` ones, so turn_idx = position within the
    # conversation by construction — dense, unique, and shuffle-free at any
    # n_turns.  The input-hint schema fixes turn_idx:int32, which bounds the
    # generator at ~2^31 turns per conversation; guard explicitly.
    per_conv_max = max(n_hot_total // hot, (n_turns - n_hot_total) // cold) + 1
    if per_conv_max >= 2**31:
        raise ValueError(
            f"n_turns={n_turns} with skew={skew} exceeds the int32 turn_idx "
            "bound of the transcripts input schema"
        )

    base = (
        spark.range(n_turns)
        .withColumn("u", F.pmod(F.xxhash64(F.col("id") + F.lit(seed)), F.lit(10000)))
        .withColumn("is_hot", F.col("id") < F.lit(n_hot_total))
        .withColumn(
            "conv_id",
            F.when(
                F.col("is_hot"),
                F.concat(F.lit("conv-hot-"), F.pmod(F.col("id"), F.lit(hot))),
            ).otherwise(
                F.concat(
                    F.lit("conv-"),
                    F.pmod(F.col("id") - F.lit(n_hot_total), F.lit(cold)),
                )
            ),
        )
        .withColumn(
            "turn_idx",
            F.when(F.col("is_hot"), (F.col("id") / F.lit(hot)).cast("long"))
            .otherwise(
                ((F.col("id") - F.lit(n_hot_total)) / F.lit(cold)).cast("long")
            )
            .cast("int"),
        )
        .withColumn("kind", F.pmod(F.xxhash64(F.col("id") * 31 + F.lit(seed)), F.lit(3)))
        .withColumn("payload_id",
                    F.pmod(F.xxhash64(F.col("id") * 7 + F.lit(seed)),
                           F.lit(n_payloads)).cast("int"))
    )
    chatter_arr = F.array(*[F.lit(c) for c in CHATTER])
    out = (
        base.join(F.broadcast(pay_df), "payload_id", "left")
        .withColumn(
            "text",
            F.when(F.col("kind") == 0, F.col("html")).otherwise(
                F.element_at(chatter_arr, (F.pmod(F.col("u"), F.lit(len(CHATTER))) + 1).cast("int"))
            ),
        )
        .withColumn(
            "role",
            F.when(F.col("kind") == 0, F.lit("tool"))
            .when(F.col("kind") == 1, F.lit("user"))
            .otherwise(F.lit("assistant")),
        )
        .withColumn("tool", F.when(F.col("kind") == 0, F.lit("browser")))
        .withColumn(
            "ts",
            F.timestamp_seconds(
                F.lit(int(_EPOCH.timestamp())) + F.col("id") * F.lit(7)
            ),
        )
        .select(
            F.col("conv_id"),
            F.col("turn_idx").cast("int").alias("turn_idx"),
            "role", "text", "tool", "ts",
        )
    )
    return out


def transcripts_from_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """JSONL dumps → the transcripts input shape.

    Schema is passed explicitly (never inferred — inference is a second
    full scan at 100 TB) with ts accepted as ISO-8601 strings; missing
    columns surface as nulls rather than load failures."""
    raw_schema = StructType(
        [
            StructField("conv_id", StringType(), True),
            StructField("turn_idx", IntegerType(), True),
            StructField("role", StringType(), True),
            StructField("text", StringType(), True),
            StructField("tool", StringType(), True),
            StructField("ts", StringType(), True),
        ]
    )
    raw = spark.read.schema(raw_schema).json(path)
    return raw.select(
        F.coalesce(F.col("conv_id"), F.lit("conv-unknown")).alias("conv_id"),
        F.coalesce(F.col("turn_idx"), F.lit(0)).cast("int").alias("turn_idx"),
        "role", "text", "tool",
        F.to_timestamp("ts").alias("ts"),
    )
