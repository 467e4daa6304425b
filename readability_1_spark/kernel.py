"""Arrow-batch extraction kernels for ``DataFrame.mapInArrow``.

This is the JVM↔Python boundary of the pipeline (SURVEY.md §3.1): Spark
streams Arrow record batches of (conv_id, turn_idx, text, part_id) into one
Python worker per core; the kernel runs the extraction per document and
yields Arrow batches of the extraction schema.  There is no per-row Python
at the Spark API level — batching, transfer, and vectorized decode are
Arrow's.  Per-document work inside the batch is inherent to the algorithm
(the reference is a per-document mutation-heavy DOM pipeline).
"""

from __future__ import annotations

import time
from collections.abc import Iterator

from .extract import extract_one, extract_one_gated, is_readerable

OUT_SCHEMA_DDL = (
    "conv_id STRING, turn_idx INT, part_id INT, status STRING, "
    "title STRING, byline STRING, dir STRING, content STRING, "
    "text_content STRING, length INT, excerpt STRING, site_name STRING, "
    "spans ARRAY<STRUCT<start: INT, end: INT>>, "
    "candidate_count INT, top_score DOUBLE, attempts INT, parse_ms DOUBLE"
)

OUT_COLUMNS = [
    "conv_id", "turn_idx", "part_id", "status", "title", "byline", "dir",
    "content", "text_content", "length", "excerpt", "site_name", "spans",
    "candidate_count", "top_score", "attempts", "parse_ms",
]


def compute_spans(text_content: str | None, paragraph_texts: list[str]) -> list[dict]:
    """Character offsets of each top-level paragraph's text within
    text_content (FIXTURES.md §3): deterministic forward scan."""
    spans = []
    if not text_content:
        return spans
    cursor = 0
    for ptext in paragraph_texts:
        if not ptext:
            continue
        idx = text_content.find(ptext, cursor)
        if idx == -1:
            idx = text_content.find(ptext)
            if idx == -1:
                continue
        spans.append({"start": idx, "end": idx + len(ptext)})
        cursor = idx + len(ptext)
    return spans


def make_extraction_kernel(readerable_gate: bool = False):
    """Returns a mapInArrow function: Arrow batches of (conv_id, turn_idx,
    text, part_id) → Arrow batches of OUT_SCHEMA_DDL.  Arrow-direct (no
    pandas materialization) halves the per-batch conversion cost for these
    large-string columns.

    readerable_gate=True folds the isProbablyReaderable pre-check into the
    SAME parse the extraction uses (one parse per document, not two) and
    emits only readerable rows — output-identical to the two-pass gate."""
    import pyarrow as pa

    out_type = pa.struct(
        [
            ("conv_id", pa.string()), ("turn_idx", pa.int32()),
            ("part_id", pa.int32()), ("status", pa.string()),
            ("title", pa.string()), ("byline", pa.string()),
            ("dir", pa.string()), ("content", pa.string()),
            ("text_content", pa.string()), ("length", pa.int32()),
            ("excerpt", pa.string()), ("site_name", pa.string()),
            (
                "spans",
                pa.list_(pa.struct([("start", pa.int32()), ("end", pa.int32())])),
            ),
            ("candidate_count", pa.int32()), ("top_score", pa.float64()),
            ("attempts", pa.int32()), ("parse_ms", pa.float64()),
        ]
    )
    out_schema = pa.schema(list(out_type))
    extract = extract_one_gated if readerable_gate else extract_one
    # A null payload is a row of its own, except under the gate, which drops it.
    null_result = None if readerable_gate else {"status": "not_html"}

    def kernel(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            cols: dict[str, list] = {c: [] for c in OUT_COLUMNS}
            for conv_id, turn_idx, part_id, html in zip(
                *(batch.column(c).to_pylist()
                  for c in ("conv_id", "turn_idx", "part_id", "text"))
            ):
                t0 = time.perf_counter()
                res = null_result if html is None else extract(html)
                if res is None:
                    continue  # gated out: not probably readerable
                spans = []
                if res["status"] == "ok":
                    spans = compute_spans(res["text_content"], res["paragraph_texts"])
                ms = (time.perf_counter() - t0) * 1000.0
                cols["conv_id"].append(conv_id)
                cols["turn_idx"].append(turn_idx)
                cols["part_id"].append(part_id)
                cols["status"].append(res["status"])
                for f in ("title", "byline", "dir", "content", "text_content",
                          "length", "excerpt", "site_name"):
                    cols[f].append(res.get(f))
                cols["spans"].append(spans)
                metrics = res.get("metrics") or {}
                for f in ("candidate_count", "top_score", "attempts"):
                    cols[f].append(metrics.get(f))
                cols["parse_ms"].append(ms)
            yield pa.RecordBatch.from_pydict(
                {f.name: pa.array(cols[f.name], type=f.type) for f in out_schema},
                schema=out_schema,
            )

    return kernel


def make_readerable_kernel():
    """mapInArrow gate: (conv_id, turn_idx, text, part_id) →
    same + readerable boolean (Readability-readerable.js semantics)."""
    import pyarrow as pa

    def kernel(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            flags = [html is not None and is_readerable(html)
                     for html in batch.column("text").to_pylist()]
            yield batch.append_column("readerable", pa.array(flags, pa.bool_()))

    return kernel
