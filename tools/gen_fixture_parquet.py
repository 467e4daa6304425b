"""Generate the committed parquet artifacts used by the driver oracle:

* tests/goldens/transcripts_smoke.parquet — the deterministic smoke
  transcripts table (same rows as transcripts.smoke_transcripts), written
  with pyarrow so the file is a single stable parquet both Spark and DuckDB
  read identically.  The file is its own page source: smoke_transcripts
  reads each payload's HTML back from it (turn 1 of conv-<slug>), so a
  rerun rewrites the same rows.
* tests/goldens/goldens.parquet — reference-derived expected extraction
  results per HTML-bearing (conv_id, turn_idx), including the deterministic
  part_id (pmod(xxhash64(conv_id), 64)) so lineage rollups are oracle-
  checkable in plain SQL.

Run: python3 tools/gen_fixture_parquet.py  (idempotent)
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDENS = os.path.join(REPO, "tests", "goldens")
N_PARTS = 64


def main() -> None:
    from readability_1_spark.session import get_spark
    from readability_1_spark.transcripts import smoke_transcripts

    spark = get_spark(app_name="gen_fixture_parquet", master="local[4]")

    # --- transcripts_smoke.parquet (single deterministic file) ---
    df = smoke_transcripts(spark)
    pdf = df.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    # Spark's parquet reader rejects nanosecond timestamps.
    ts_idx = table.schema.get_field_index("ts")
    table = table.set_column(
        ts_idx, pa.field("ts", pa.timestamp("us")),
        table.column("ts").cast(pa.timestamp("us")),
    )
    pq.write_table(table, os.path.join(GOLDENS, "transcripts_smoke.parquet"))
    print("transcripts_smoke.parquet:", len(pdf), "rows")

    # part_id for every conv (needs Spark's xxhash64)
    from pyspark.sql import functions as F

    part_map = {
        r["conv_id"]: r["part_id"]
        for r in df.select("conv_id")
        .distinct()
        .withColumn("part_id", F.pmod(F.xxhash64("conv_id"), F.lit(N_PARTS)).cast("int"))
        .collect()
    }

    # --- goldens.parquet: one row per HTML-bearing turn ---
    with open(os.path.join(GOLDENS, "_index.json")) as f:
        idx = json.load(f)
    rows = []
    for e in idx:
        slug = e["slug"]
        with open(os.path.join(GOLDENS, slug + ".json")) as f:
            g = json.load(f)
        # The pipeline gate admits turns whose text matches (?i)<html.
        if slug == "edge-fragment" or slug == "edge-empty":
            continue
        res = g.get("result") or {}
        rows.append(
            {
                "conv_id": f"conv-{slug}",
                "turn_idx": 1,
                "part_id": part_map[f"conv-{slug}"],
                "slug": slug,
                "status": g["status"],
                "title": res.get("title"),
                "byline": res.get("byline"),
                "dir": res.get("dir"),
                "content": res.get("content"),
                "text_content": res.get("text_content"),
                "length": res.get("length"),
                "excerpt": res.get("excerpt"),
                "site_name": res.get("site_name"),
                "readerable": g.get("readerable"),
            }
        )
    schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("part_id", pa.int32()),
            ("slug", pa.string()),
            ("status", pa.string()),
            ("title", pa.string()),
            ("byline", pa.string()),
            ("dir", pa.string()),
            ("content", pa.string()),
            ("text_content", pa.string()),
            ("length", pa.int32()),
            ("excerpt", pa.string()),
            ("site_name", pa.string()),
            ("readerable", pa.bool_()),
        ]
    )
    table = pa.Table.from_pylist(rows, schema=schema)
    pq.write_table(table, os.path.join(GOLDENS, "goldens.parquet"))
    print("goldens.parquet:", len(rows), "rows")
    spark.stop()


if __name__ == "__main__":
    main()
