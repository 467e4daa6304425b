"""Output checks, run outside the timed region.  Each returns
(attempted, failed, notes) so every failure counts into failed_ratio."""

from __future__ import annotations

import hashlib
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gen_input import GOLDENS_PQ


def _md5(s: str | None) -> str | None:
    return None if s is None else hashlib.md5(s.encode("utf-8")).hexdigest()


def golden_expectations(spark: SparkSession) -> DataFrame:
    """(payload, e_status, e_mc, e_mt) per golden, keyed like gen_input's
    payload column (the golden's conv_id)."""
    g = pq.read_table(GOLDENS_PQ, columns=["conv_id", "status", "content",
                                           "text_content"]).to_pylist()
    rows = [(r["conv_id"], r["status"], _md5(r["content"]), _md5(r["text_content"]))
            for r in g]
    return spark.createDataFrame(
        rows, "payload STRING, e_status STRING, e_mc STRING, e_mt STRING")


def check_extractions(table: DataFrame, out: DataFrame, expected: DataFrame
                      ) -> tuple[int, int, list[str]]:
    """Every HTML turn of `table` has exactly one row in `out`; golden
    payloads match status, md5(content) and md5(text_content); deep pages
    only need a non-`error` status.  Rows for no HTML turn are failures.
    One Spark job, so `out` is computed once."""
    keys = table.filter(F.col("payload").isNotNull()).select(
        "conv_id", "turn_idx", "payload", F.lit(True).alias("is_turn"))
    got = out.select(
        "conv_id", "turn_idx", "status",
        F.md5("content").alias("mc"), F.md5("text_content").alias("mt"))
    per_turn = keys.join(got, ["conv_id", "turn_idx"], "full_outer").groupBy(
        "conv_id", "turn_idx", "payload", "is_turn").agg(
        F.count("status").alias("n"), F.first("status").alias("status"),
        F.first("mc").alias("mc"), F.first("mt").alias("mt"))
    j = per_turn.join(F.broadcast(expected), "payload", "left")
    stray = F.col("is_turn").isNull()
    deep = F.col("payload").startswith("deep-")
    golden_ok = (
        (F.col("status") == F.col("e_status"))
        & F.col("mc").eqNullSafe(F.col("e_mc"))
        & F.col("mt").eqNullSafe(F.col("e_mt"))
    )
    bad = (stray | (F.col("n") != 1) | (F.col("status") == "error")
           | (~deep & (F.col("e_status").isNull() | ~golden_ok)))
    row = j.agg(F.count(F.lit(1)).alias("rows"),
                F.sum(bad.cast("int")).alias("bad"),
                F.sum((F.col("n") == 0).cast("int")).alias("missing"),
                F.sum((F.col("n") > 1).cast("int")).alias("dup"),
                F.sum(stray.cast("int")).alias("stray")).first()
    notes = []
    if row.bad:
        notes.append(f"extraction: {row.bad} bad of {row.rows} turns and stray rows "
                     f"({row.missing} missing, {row.dup} duplicated, {row.stray} stray)")
    return row.rows, row.bad or 0, notes


def check_oracle(spark: SparkSession, names: list[str], queries: dict, sf_dir: str,
                 rows: dict) -> tuple[int, int, list[str]]:
    """Spark rows of each query against its DuckDB `oracle_sql()` twin, as
    order-insensitive multisets (tools/verify_oracle.df_to_multiset).  A
    query's Spark rows are taken from `rows` ({name: (columns, rows)}) if
    there, else the query is run again."""
    import duckdb
    from tools.verify_oracle import TABLES, df_to_multiset

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    failed, notes = 0, []
    for name in names:
        fn, sql = queries[name]
        try:
            if name in rows:
                s_cols, s_ms = df_to_multiset(*rows[name])
            else:
                sdf = fn(spark, sf_dir)
                s_cols, s_ms = df_to_multiset(sdf.columns, sdf.collect())
            cur = con.execute(sql)
            o_cols, o_ms = df_to_multiset([d[0] for d in cur.description], cur.fetchall())
            ok = s_cols == o_cols and s_ms == o_ms
        except Exception as exc:  # a query that raises is a failed query
            ok = False
            notes.append(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
        if not ok:
            failed += 1
            notes.append(f"{name}: differs from its oracle")
    con.close()
    return len(names), failed, notes
