"""The distributed extraction pipeline (SURVEY.md §3.1, §4.4).

Physical plan:

    scan(transcripts)                      Catalyst prunes to needed columns
    → filter(text likely-HTML)            pushed to the scan
    → project(+ part_id)                  deterministic lineage partition id
    → repartition(N, conv_id, turn_idx)   explicit shuffle: skew-spreading
    → mapInArrow(extraction kernel)       Arrow batches, JVM↔Python boundary
    → (a) extractions sink
      (b) groupBy(part_id) lineage/metrics rollup    partial agg map-side
      (c) checkpoint manifest per part_id            idempotent resume

Skew handling: HTML size and retry-ladder cost vary ~2000× per document
(reference bench _dev/bench1.csv: 84…15284 op/s), and conv_id row counts are
skewed.  The shuffle hashes each turn's (conv_id, turn_idx) — NOT conv_id
alone — so one huge conversation spreads across all partitions while
part_id stays deterministic for resume.  It hashes those columns directly:
`repartition(n, c)` hashes `c` again, so shuffling on a precomputed
`pmod(hash, n)` bucket would fold n values into fewer partitions (on a
112-turn input, 10 of 16 partitions and 34 of 64, where hashing the turns
fills 16 and 52).  At 10^12 turns the same plan holds: the shuffle is
pure hash-scatter (no co-location requirement downstream), so partition
count scales with cluster size, and AQE coalesces the post-kernel stage.

Storage: Iceberg `writeTo(...).append()` when a catalog is configured (the
sandbox ships no iceberg runtime jar), else directory-per-table parquet
appends — both give atomic per-partition visibility for resume.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType

from .kernel import OUT_SCHEMA_DDL, make_extraction_kernel

# A cheap, pushdown-friendly gate for "this turn might carry an HTML
# document".  Full validation (errorState etc.) happens in the kernel.
# Matches either an <html ...> tag or a doctype declaration, so documents
# serialized without a literal <html> substring still reach the kernel
# (which handles them: fragment -> no_document).
HTML_GATE = "(?i)<html|<!doctype\\s+html"

_SHIPPED: set[str] = set()


def build_pyfiles_zip(out_dir: str | None = None) -> str:
    """Zip this package's sources for `--py-files` / `addPyFile` into
    `out_dir` (default: a per-user temp directory) and return the path.

    The zip is named by a content hash of the sources: edited code always
    ships fresh, and a pre-existing file at the path can only be a
    byte-identical build (never someone else's payload), so it is reused."""
    import hashlib
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    sources = []
    for root, _dirs, files in os.walk(pkg_dir):
        if "__pycache__" in root:
            continue
        for fn in sorted(files):
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                rel = os.path.join("readability_1_spark", os.path.relpath(full, pkg_dir))
                with open(full, "rb") as fh:
                    sources.append((rel, fh.read()))
    digest = hashlib.sha256()
    for rel, data in sources:
        digest.update(rel.encode())
        digest.update(data)
    if out_dir is None:
        out_dir = os.path.join(tempfile.gettempdir(), f"r1s_pyfiles_{os.getuid()}")
    os.makedirs(out_dir, mode=0o700, exist_ok=True)
    zip_path = os.path.join(out_dir, f"readability_1_spark_{digest.hexdigest()[:16]}.zip")
    if not os.path.exists(zip_path):
        tmp_path = zip_path + f".tmp{os.getpid()}"
        with zipfile.ZipFile(tmp_path, "w", zipfile.ZIP_DEFLATED) as zf:
            for rel, data in sources:
                zf.writestr(rel, data)
        os.replace(tmp_path, zip_path)
    return zip_path


def ensure_worker_imports(spark: SparkSession) -> None:
    """Make this package importable inside executor Python workers no matter
    where the driver was launched from: build the --py-files zip lazily and
    ship it via addPyFile (idempotent per SparkContext)."""
    sc = spark.sparkContext
    key = sc.applicationId
    if key in _SHIPPED:
        return
    # Nothing to build when the package itself runs from a zip.
    if os.path.isdir(os.path.dirname(os.path.abspath(__file__))):
        try:
            sc.addPyFile(build_pyfiles_zip())
        except Exception as exc:  # pragma: no cover - depends on context reuse
            # addPyFile raises if an identically-named file was already
            # registered in this SparkContext; anything else is worth seeing.
            import warnings

            warnings.warn(f"ensure_worker_imports: {type(exc).__name__}: {exc}")
    _SHIPPED.add(key)


def gate_html_turns(df: DataFrame) -> DataFrame:
    """Filter to HTML-bearing turns; predicate pushes into the scan."""
    return df.filter(F.col("text").isNotNull() & F.col("text").rlike(HTML_GATE))


def with_partitioning(df: DataFrame, num_parts: int) -> DataFrame:
    """Deterministic lineage partition id.

    part_id = pmod(xxhash64(conv_id), P): stable across runs → resume key.
    The kernel shuffle spreads hot conv_ids by hashing (conv_id, turn_idx)
    itself (`extract_transcripts`), so there is no per-turn salt column.
    """
    return df.withColumn(
        "part_id", F.pmod(F.xxhash64("conv_id"), F.lit(num_parts)).cast("int")
    )


def extract_transcripts(
    df: DataFrame,
    num_parts: int = 64,
    readerable_gate: bool = False,
    repartition: bool = True,
    dedup_payloads: bool = False,
) -> DataFrame:
    """transcripts → extractions DataFrame (no sink).

    readerable_gate: the kernel checks isProbablyReaderable on the parse it
    extracts from (not a second parse) and emits only readerable turns.

    repartition=False keeps the input's partitioning (no shuffle), as the
    streaming path does; part_id is the same either way.

    dedup_payloads: agent transcripts re-fetch the same pages constantly; at
    10^12 turns running the kernel once per DISTINCT payload and joining the
    result back to turns is the dominant cost saving.  Per-turn output is
    identical (the kernel is a pure function of the payload); only parse_ms
    becomes the shared per-payload cost.
    """
    ensure_worker_imports(df.sparkSession)
    parted = with_partitioning(gate_html_turns(df), num_parts)
    cols = ["conv_id", "turn_idx", "text", "part_id"]
    if dedup_payloads:
        keyed = parted.withColumn("payload_hash", F.sha2(F.col("text"), 256))
        todo = (
            keyed.groupBy("payload_hash")
            .agg(F.first("text").alias("text"))
            .withColumn("conv_id", F.col("payload_hash"))
            .withColumn("turn_idx", F.lit(0))
            .withColumn(
                "part_id",
                F.pmod(F.xxhash64("payload_hash"), F.lit(num_parts)).cast("int"),
            )
        )
        shuffle_keys = ["payload_hash"]
    else:
        todo, shuffle_keys = parted.select(*cols), ["conv_id", "turn_idx"]
    if repartition:
        # One hash shuffle per turn (per payload under dedup): spreads hot
        # conversations AND heterogeneous page sizes uniformly.  A size-
        # bucketing variant (sortWithinPartitions(length(text)) after the
        # shuffle, for homogeneous-cost Arrow batches) was measured at
        # local[32]/30k turns and is a small net LOSS (median 671 t/s desc /
        # 657 asc vs 697 unsorted): with 4x task oversubscription the scheduler
        # already absorbs the straggler tail, so the sort pays its copy cost
        # without a win.  Oversubscription (num_parts >= 4x cores) is the lever
        # that matters.
        todo = todo.repartition(num_parts, *shuffle_keys)
    extracted = todo.select(*cols).mapInArrow(
        make_extraction_kernel(readerable_gate=readerable_gate), OUT_SCHEMA_DDL
    )
    if not dedup_payloads:
        return extracted
    result_cols = [
        c for c in extracted.columns if c not in ("conv_id", "turn_idx", "part_id")
    ]
    return keyed.select("conv_id", "turn_idx", "part_id", "payload_hash").join(
        extracted.withColumnRenamed("conv_id", "payload_hash").select(
            "payload_hash", *result_cols
        ),
        "payload_hash",
    ).select("conv_id", "turn_idx", "part_id", *result_cols)


def lineage_rollup(extractions: DataFrame, run_id: str) -> DataFrame:
    """Per-partition lineage/metrics (FIXTURES.md §4): map-side partial agg
    then one small shuffle keyed by part_id."""
    return extractions.groupBy("part_id").agg(
        F.lit(run_id).alias("run_id"),
        F.count(F.lit(1)).alias("input_rows"),
        F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("ok_rows"),
        F.sum(F.when(F.col("status") == "null_result", 1).otherwise(0)).alias("null_rows"),
        F.sum(
            F.when(~F.col("status").isin("ok", "null_result"), 1).otherwise(0)
        ).alias("error_rows"),
        F.sum("parse_ms").alias("sum_parse_ms"),
        F.max("parse_ms").alias("max_parse_ms"),
        F.avg("candidate_count").alias("avg_candidates"),
        F.avg("top_score").alias("avg_top_score"),
        F.current_timestamp().alias("completed_at"),
    )


# The stored tables' shapes.  Reading a table with its schema skips the
# Spark job parquet runs to infer one from the file footers, and pins the
# partition columns as STRING: inferred, an all-digit batch_id would read
# back as BIGINT.  `_MANIFEST_DDL` is a checkpoint row as
# `run_extraction_job` builds it; the append stamps committed_at.
_MANIFEST_DDL = "run_id STRING, batch_id STRING, part_id INT, rows_written BIGINT"
CHECKPOINTS_DDL = _MANIFEST_DDL + ", committed_at TIMESTAMP"
EXTRACTIONS_DDL = OUT_SCHEMA_DDL + ", run_id STRING, batch_id STRING"
_TABLE_DDL = {"checkpoints": CHECKPOINTS_DDL, "extractions": EXTRACTIONS_DDL}


class Storage:
    """Iceberg writer with parquet-directory fallback (SURVEY.md §4.3)."""

    def __init__(self, spark: SparkSession, root: str, catalog: str | None = None):
        self.spark = spark
        self.root = root
        self.catalog = catalog

    def _table_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def append(self, df: DataFrame, name: str, partition_by: list[str] | None = None) -> None:
        if self.catalog:
            df.writeTo(f"{self.catalog}.{name}").append()
        else:
            writer = df.write.mode("append")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(self._table_path(name))

    def read(self, name: str) -> DataFrame | None:
        if self.catalog:
            return self.spark.read.table(f"{self.catalog}.{name}")
        path = self._table_path(name)
        if not os.path.exists(path):
            return None
        reader = self.spark.read
        if name in _TABLE_DDL:
            reader = reader.schema(_TABLE_DDL[name])
        try:
            return reader.parquet(path)
        except Exception:
            return None


def run_extraction_job(
    spark: SparkSession,
    transcripts: DataFrame,
    storage: Storage,
    run_id: str | None = None,
    num_parts: int = 64,
    readerable_gate: bool = False,
) -> dict:
    """Checkpointed, idempotently-resumable extraction job.

    Run-batch commit protocol:
      1. todo = all part_ids ∖ checkpointed part_ids (left-anti join); an
         empty todo returns at once with rows = 0 and writes nothing.  The
         collected ids come back as a JVM-local frame (range ∩ todo), so
         the semi-join below starts no Python task
      2. extract only rows whose part_id ∈ todo and append them (run_id-
         partitioned) — the kernel runs exactly ONCE, with no persist() of
         the full output and no extra count() pass (at 10^12 turns caching
         every extracted document is a memory/disk-pressure risk)
      3. scan the just-written batch once, column-pruned to the tiny metric
         columns (status/part_id/parse_ms/…) — content is never re-read —
         into one per-partition rollup collected to the driver (<= num_parts
         rows); it feeds the lineage append, the manifest's rows_written
         and the returned row count
      4. the manifest covers EVERY todo partition (rows_written = 0 for
         partitions fully consumed by the gates), so a gated-out partition
         checkpoints too and is not re-extracted on resume.
    All todo partitions commit in a single manifest append per run-batch; a
    re-run after failure repeats only un-checkpointed partitions, and rows
    of a partially-written batch are superseded because readers must filter
    extractions by checkpointed part_ids (see `read_consistent`).
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    gated = with_partitioning(gate_html_turns(transcripts), num_parts)

    # batch_id identifies THIS invocation (a resumed run shares run_id but
    # must not re-read earlier batches' rows when deriving its lineage).
    batch_id = uuid.uuid4().hex[:12]

    todo_parts = gated.select("part_id")
    checkpoints = storage.read("checkpoints")
    if checkpoints is not None:
        # The broadcast build side dedups its keys; a distinct here would
        # only add a shuffle stage.
        done = checkpoints.filter(F.col("run_id") == run_id).select("part_id")
        todo_parts = todo_parts.join(F.broadcast(done), "part_id", "left_anti")
    # Materialize the (<= num_parts rows) todo set once: it feeds both the
    # semi-join build side and the manifest, and leaving it lazy would scan
    # the gated input twice just to recompute the same tiny distinct.
    todo_ids = sorted(r.part_id for r in todo_parts.distinct().collect())
    if not todo_ids:
        return {"run_id": run_id, "batch_id": batch_id, "rows": 0}
    # Built JVM-side: a driver-list createDataFrame is a Python RDD scan,
    # and every job consuming it would run Python tasks to unpickle ints.
    todo_parts = (
        spark.range(num_parts)
        .select(F.col("id").cast("int").alias("part_id"))
        .filter(F.col("part_id").isin(todo_ids))
    )

    todo = gated.join(F.broadcast(todo_parts), "part_id", "left_semi")
    extractions = (
        extract_transcripts(todo, num_parts=num_parts, readerable_gate=readerable_gate)
        .withColumn("run_id", F.lit(run_id))
        .withColumn("batch_id", F.lit(batch_id))
    )
    storage.append(extractions, "extractions", partition_by=["run_id", "batch_id"])

    # Read back ONLY this batch's partition (directory-pruned), column-pruned
    # to the metric columns — a tiny scan compared to the content payload.
    stats: list = []
    all_written = storage.read("extractions")
    if all_written is not None:
        written = all_written.filter(
            (F.col("run_id") == run_id) & (F.col("batch_id") == batch_id)
        ).drop("run_id", "batch_id")
        rollup = lineage_rollup(written, run_id).drop("completed_at")
        stats = rollup.collect()
    if stats:  # else nothing extracted this batch (all rows gated out)
        lineage = _local_frame(spark, stats, rollup.schema)
        storage.append(lineage.withColumn("completed_at", F.current_timestamp()), "lineage")
    rows_written = {r.part_id: r.input_rows for r in stats}
    manifest = _local_frame(
        spark,
        [(run_id, batch_id, p, rows_written.get(p, 0)) for p in todo_ids],
        StructType.fromDDL(_MANIFEST_DDL),
    ).withColumn("committed_at", F.current_timestamp())
    storage.append(manifest, "checkpoints")
    return {"run_id": run_id, "batch_id": batch_id, "rows": sum(rows_written.values())}


def _local_frame(spark: SparkSession, rows: list, schema: StructType) -> DataFrame:
    """`rows` (tuples in `schema`'s field order) as a frame Spark plans
    JVM-side, from one JSON literal: a driver-list createDataFrame is a
    Python RDD scan, every job over it starting Python tasks to unpickle
    the rows, and a literal Column per value costs a py4j round trip each.
    JSON carries each double as its shortest repr, which parses back to
    the same double."""
    payload = json.dumps([dict(zip(schema.fieldNames(), row)) for row in rows])
    return spark.range(1).select(
        F.inline(F.from_json(F.lit(payload), ArrayType(schema), {"mode": "FAILFAST"}))
    )


def _latest_per_turn(extractions: DataFrame) -> DataFrame:
    """One row per (conv_id, turn_idx): the one with the largest parse_ms,
    so a turn extracted by more than one batch reads back once."""
    w = Window.partitionBy("conv_id", "turn_idx").orderBy(F.col("parse_ms").desc())
    return (
        extractions.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def read_consistent(storage: Storage, run_id: str) -> DataFrame | None:
    """Extractions restricted to checkpointed partitions + de-duplicated per
    (conv_id, turn_idx): the consistent view after any number of resumes."""
    extractions = storage.read("extractions")
    checkpoints = storage.read("checkpoints")
    if extractions is None or checkpoints is None:
        return None
    done = checkpoints.filter(F.col("run_id") == run_id).select("part_id").distinct()
    return _latest_per_turn(extractions.join(F.broadcast(done), "part_id", "left_semi"))


def read_as_of(storage: Storage, run_id: str, batch_id: str) -> DataFrame | None:
    """Snapshot/time-travel-equivalent read over the parquet-manifest
    fallback (the `VERSION AS OF` a real Iceberg catalog would give —
    Storage's `writeTo` path; the sandbox has no Iceberg runtime jar, so
    this is the TESTED surface).  The checkpoint manifest is the snapshot
    log: each run-batch appends one manifest slice (run_id, batch_id,
    part_ids, committed_at), so the table state "as of batch B" is the
    extractions of exactly the batches whose manifest committed at or
    before B's commit, restricted to the part_ids those batches
    checkpointed — a partially-written later batch is invisible, like an
    uncommitted Iceberg snapshot."""
    extractions = storage.read("extractions")
    checkpoints = storage.read("checkpoints")
    if extractions is None or checkpoints is None:
        return None
    cp = checkpoints.filter(F.col("run_id") == run_id)
    batch_times = cp.groupBy("batch_id").agg(F.max("committed_at").alias("_t"))
    tgt = batch_times.filter(F.col("batch_id") == batch_id).collect()
    if not tgt:
        return None
    visible = batch_times.filter(F.col("_t") <= tgt[0]._t).select("batch_id")
    done = (
        cp.join(visible, "batch_id", "left_semi").select("part_id").distinct()
    )
    return _latest_per_turn(
        extractions.filter(F.col("run_id") == run_id)
        .join(F.broadcast(visible), "batch_id", "left_semi")
        .join(F.broadcast(done), "part_id", "left_semi")
    )
