"""Structured Streaming extraction path.

The north rule's pipeline is batch-with-resume, but the same kernel runs
under Structured Streaming unchanged: `readStream` → HTML gate →
`mapInArrow(kernel)` → `writeStream` with checkpointLocation.  Streaming
checkpoints give exactly-once sink semantics per micro-batch, replacing the
batch pipeline's per-partition manifest.

Typical use: tail an append-only transcripts table (files/Iceberg/Kafka) and
maintain a continuously-updated extractions table plus a windowed
quality-metrics stream with watermarked late-data handling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import (
    HTML_GATE,
    ensure_worker_imports,
    extract_transcripts,
    gate_html_turns,
)
from .transcripts import TRANSCRIPT_SCHEMA


def stream_transcripts_from_dir(spark: SparkSession, input_dir: str,
                                max_files_per_trigger: int = 16) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def streaming_extractions(transcripts: DataFrame, num_parts: int = 64) -> DataFrame:
    """Gate + extract on a streaming DataFrame: the batch path's gate,
    part_id and kernel, without its shuffle."""
    return extract_transcripts(transcripts, num_parts, repartition=False)


def streaming_quality_metrics(transcripts: DataFrame,
                              window: str = "10 minutes",
                              watermark: str = "30 minutes") -> DataFrame:
    """Watermarked windowed aggregation over the turn stream: per-window
    turn counts and HTML share — the late-data-tolerant metrics feed."""
    return (
        transcripts.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("role"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(
                F.when(
                    F.col("text").isNotNull() & F.col("text").rlike(HTML_GATE), 1
                ).otherwise(0)
            ).alias("html_turns"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "role", "n_turns", "html_turns",
        )
    )


def run_stream_to_parquet(extractions: DataFrame, out_dir: str,
                          checkpoint_dir: str, available_now: bool = True):
    """Start the extraction sink; availableNow processes the current backlog
    then stops (used by tests and backfills)."""
    writer = (
        extractions.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_dedup_exact(transcripts: DataFrame,
                          watermark: str | None = None) -> DataFrame:
    """Streaming exact dedup on the payload hash via Spark's built-in
    stateful dropDuplicates: the state store keeps one entry per distinct
    content hash, so only the FIRST occurrence flows downstream — across
    micro-batches within a run, and across restarts via the checkpoint.
    Placed before the extraction kernel it is the streaming analogue of the
    batch pipeline's payload dedup (kernel runs once per distinct page).

    State grows with distinct hashes, which is unbounded on an endless
    crawl; pass `watermark` (e.g. "7 days") to switch to
    dropDuplicatesWithinWatermark, bounding state to the watermark horizon
    (set it to the crawl revisit period — a page reseen after the horizon
    re-extracts, which is what you want anyway).

    NULL-text turns carry no payload, so they are NOT deduped against each
    other (dropDuplicates would treat NULL as one shared value and silently
    drop all but the first); they pass through with a NULL content_hash,
    matching the batch pipeline's hash-only-real-payloads discipline."""
    hashed = transcripts.withColumn(
        "content_hash",
        F.when(F.col("text").isNotNull(), F.sha2(F.col("text"), 256)),
    )
    payloads = hashed.filter(F.col("content_hash").isNotNull())
    if watermark is not None:
        deduped = payloads.withWatermark(
            "ts", watermark
        ).dropDuplicatesWithinWatermark(["content_hash"])
    else:
        deduped = payloads.dropDuplicates(["content_hash"])
    return deduped.unionByName(hashed.filter(F.col("content_hash").isNull()))


SESSION_OUT_DDL = (
    "conv_id STRING, session_idx INT, session_start TIMESTAMP, "
    "session_end TIMESTAMP, n_turns BIGINT, html_turns BIGINT"
)
SESSION_STATE_DDL = (
    "session_idx INT, session_start LONG, last_ts LONG, n_turns LONG, html_turns LONG"
)


def make_session_fn(gap_seconds: int = 1800, html_gate: str = HTML_GATE,
                    use_timeout: bool = False):
    """applyInPandasWithState function: gap-based conversation sessionization
    with explicit per-conv state — the streaming analogue of the batch
    `events_sessionize` query.  A session closes when a turn arrives more
    than `gap_seconds` after the previous one (emitting the closed session)
    or when the group times out (emitting the open session)."""
    import re as _re

    import pandas as pd

    gate_re = _re.compile(html_gate)

    def fn(key, pdfs, state):
        conv_id = key[0]
        out_rows = []
        if state.hasTimedOut:
            if state.exists:
                idx, start, last, n, html = state.get
                out_rows.append((conv_id, idx, start, last, n, html))
                state.remove()
        else:
            if state.exists:
                idx, start, last, n, html = state.get
            else:
                idx, start, last, n, html = 0, None, None, 0, 0
            for pdf in pdfs:
                pdf = pdf.sort_values("ts")
                for ts, text in zip(pdf["ts"], pdf["text"]):
                    ts_s = int(pd.Timestamp(ts).timestamp())
                    is_html = int(
                        text is not None and bool(gate_re.search(str(text)))
                    )
                    if start is None:
                        start, last, n, html = ts_s, ts_s, 1, is_html
                    elif ts_s - last > gap_seconds:
                        out_rows.append((conv_id, idx, start, last, n, html))
                        idx += 1
                        start, last, n, html = ts_s, ts_s, 1, is_html
                    else:
                        last = max(last, ts_s)
                        n += 1
                        html += is_html
            if start is not None:
                state.update((idx, start, last, n, html))
                if use_timeout:
                    state.setTimeoutDuration(gap_seconds * 1000)
        if out_rows:
            yield pd.DataFrame(
                {
                    "conv_id": [r[0] for r in out_rows],
                    "session_idx": [r[1] for r in out_rows],
                    "session_start": [pd.Timestamp(r[2], unit="s") for r in out_rows],
                    "session_end": [pd.Timestamp(r[3], unit="s") for r in out_rows],
                    "n_turns": [r[4] for r in out_rows],
                    "html_turns": [r[5] for r in out_rows],
                }
            )

    return fn


def streaming_conversation_sessions(transcripts: DataFrame,
                                    gap_seconds: int = 1800,
                                    idle_timeout: bool = False) -> DataFrame:
    """Custom stateful streaming operator (`applyInPandasWithState`):
    per-conversation gap sessionization.  State is a single fixed-width row
    per conversation — at 10^12 turns the state store scales with DISTINCT
    active conv_ids, not rows.

    idle_timeout=True additionally flushes idle conversations via
    processing-time timeouts (long-running continuous streams).  Off by
    default: under `availableNow` backfills a pending timeout forces Spark
    to keep scheduling micro-batches to fire it, so bounded runs should
    leave open sessions in state and read them on the next run."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ensure_worker_imports(transcripts.sparkSession)
    return (
        transcripts.select("conv_id", "ts", "text")
        .groupBy("conv_id")
        .applyInPandasWithState(
            make_session_fn(gap_seconds, use_timeout=idle_timeout),
            SESSION_OUT_DDL,
            SESSION_STATE_DDL,
            "append",
            GroupStateTimeout.ProcessingTimeTimeout
            if idle_timeout
            else GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming near-duplicate suppression (MinHash + LSH banding, stateful)
# ---------------------------------------------------------------------------

NEARDUP_OUT_DDL = (
    "conv_id STRING, turn_idx INT, band INT, first_seen BOOLEAN, "
    "owner_conv_id STRING, owner_turn_idx INT"
)
NEARDUP_STATE_DDL = "owner_conv_id STRING, owner_turn_idx INT"


def minhash_band_sigs(col_text):
    """Per-ROW MinHash band signatures over a text column — the same
    16-hash / 4-band family as the batch `queries._minhash_bands`, but
    computed entirely inside the row (array_min over the row's own shingle
    array instead of a groupBy-min over the exploded shingle set; min over
    the multiset equals min over the set), so a streaming query needs NO
    pre-aggregation before its one stateful op.  Returns an array of 4
    (band, sig) structs."""
    from .queries import (
        N_MINHASH,
        _band_sigs,
        _seeded_hash,
        _shingle_array_expr,
        _words,
    )

    ws = _words(col_text)
    # _shingle_array_expr reads a column literally named `ws`
    shingles = _shingle_array_expr()
    mins = [
        F.array_min(F.transform(F.col("_sh"), lambda s: _seeded_hash(seed, s)))
        for seed in range(N_MINHASH)
    ]
    return ws.alias("ws"), shingles, _band_sigs(mins)


def make_neardup_fn(state_ttl_seconds: int | None = None):
    """applyInPandasWithState function keyed by (band, sig): the FIRST doc
    to claim a bucket owns it (within a micro-batch, rows are processed in
    (conv_id, turn_idx) order for determinism); every later arrival in the
    same bucket — across micro-batches and restarts — emits
    first_seen=false with the owner's key.  State is ONE fixed-width row
    per distinct (band, sig) bucket, the LSH bucket universe.  With
    state_ttl_seconds set, an idle bucket's ownership expires (state
    removed on processing-time timeout) — content reseen after the horizon
    becomes first again, the same bounded-state trade
    streaming_dedup_exact makes with dropDuplicatesWithinWatermark."""
    import pandas as pd

    def fn(key, pdfs, state):
        band = int(key[0])
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            oc, ot = state.get
        else:
            oc, ot = None, None
        rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["conv_id", "turn_idx"])
            for c, t in zip(pdf["conv_id"], pdf["turn_idx"]):
                t = int(t)
                if oc is None:
                    oc, ot = str(c), t
                    rows.append((c, t, band, True, oc, ot))
                else:
                    rows.append((c, t, band, False, oc, ot))
        state.update((oc, ot))
        if state_ttl_seconds is not None:
            state.setTimeoutDuration(state_ttl_seconds * 1000)
        if rows:
            yield pd.DataFrame(
                rows,
                columns=["conv_id", "turn_idx", "band", "first_seen",
                         "owner_conv_id", "owner_turn_idx"],
            )

    return fn


def streaming_neardup_flags(transcripts: DataFrame,
                            state_ttl_seconds: int | None = None) -> DataFrame:
    """Streaming MinHash near-duplicate suppression: each HTML-bearing turn
    computes its 4 LSH band signatures IN-ROW (no pre-shuffle), explodes to
    (band, sig) and passes through ONE stateful operator whose state store
    holds the first owner of every bucket.  A turn is a near-dup CANDIDATE
    when any of its bands lands in a bucket owned by a different turn —
    collapse per turn with `neardup_collapse` (batch-side, e.g. in
    foreachBatch or over the flags sink).

    At 10^12 turns the state is one fixed-width row per DISTINCT bucket
    (the same universe the batch LSH shuffles on), and the stream shuffles
    4 rows per turn — the streaming analogue of `dedup_minhash_lsh` with
    first-wins semantics instead of pair emission.

    On an endless crawl the bucket universe is unbounded: pass
    state_ttl_seconds (e.g. 7 days, the crawl revisit period) to expire
    idle bucket ownership via processing-time timeouts.  Off by default
    for the same reason streaming_conversation_sessions' idle_timeout is:
    under availableNow backfills a pending timeout forces extra
    micro-batches just to fire it."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ensure_worker_imports(transcripts.sparkSession)
    ws, shingles, bands = minhash_band_sigs(F.col("text"))
    gated = gate_html_turns(transcripts)
    banded = (
        gated.select("conv_id", "turn_idx", ws)
        .withColumn("_sh", shingles)
        .select("conv_id", "turn_idx", F.explode(bands).alias("b"))
        .select("conv_id", "turn_idx", F.col("b.band").alias("band"),
                F.col("b.sig").alias("sig"))
    )
    return banded.groupBy("band", "sig").applyInPandasWithState(
        make_neardup_fn(state_ttl_seconds),
        NEARDUP_OUT_DDL,
        NEARDUP_STATE_DDL,
        "append",
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_seconds is not None
        else GroupStateTimeout.NoTimeout,
    )


def neardup_collapse(flags: DataFrame) -> DataFrame:
    """Batch-side per-turn verdict over the flags sink: a turn is a
    near-dup candidate iff ANY band bucket is owned by a DIFFERENT turn;
    the reported owner is the lexicographically smallest such owner (a
    deterministic representative)."""
    hit = (~F.col("first_seen")) & (
        (F.col("owner_conv_id") != F.col("conv_id"))
        | (F.col("owner_turn_idx") != F.col("turn_idx"))
    )
    return flags.groupBy("conv_id", "turn_idx").agg(
        F.max(hit).alias("is_neardup"),
        F.min(
            F.when(hit, F.struct("owner_conv_id", "owner_turn_idx"))
        ).alias("matched"),
    ).select(
        "conv_id", "turn_idx", "is_neardup",
        F.col("matched.owner_conv_id").alias("matched_conv_id"),
        F.col("matched.owner_turn_idx").alias("matched_turn_idx"),
    )
