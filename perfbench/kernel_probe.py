"""In-process decomposition of the extraction kernel over a workload's
distinct payloads: per-document `extract_one` time, the shares spent in
`JSDOMParser.parse` and `Readability.parse`, statuses and retry attempts,
then the Arrow-batch kernel over the same documents for its overhead."""

from __future__ import annotations

import statistics
import time

import pyarrow as pa

from readability_1_spark import dom, extract, kernel, readability
from readability_1_spark.session import ARROW_BATCH_ROWS

STATUSES = ("ok", "null_result", "parse_error", "no_document", "too_large", "error")


def _p99(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=100)[98] if len(xs) > 1 else xs[0]


def decompose(htmls: list[str], tracer) -> dict:
    tracer.patch(dom.JSDOMParser, "parse", "dom.JSDOMParser.parse")
    tracer.patch(readability.Readability, "parse", "readability.Readability.parse")
    since = time.time()
    doc_ms, statuses, attempts = [], dict.fromkeys(STATUSES, 0), []
    try:
        for html in htmls:
            t = time.perf_counter()
            with tracer.span("extract.extract_one"):
                out = extract.extract_one(html)
            doc_ms.append((time.perf_counter() - t) * 1000)
            statuses[out["status"]] += 1
            attempts.append((out.get("metrics") or {}).get("attempts") or 0)
    finally:
        tracer.restore()
    extract_s = sum(doc_ms) / 1000
    dom_s = tracer.total_s("dom.JSDOMParser.parse", since)
    read_s = tracer.total_s("readability.Readability.parse", since)

    fn = kernel.make_extraction_kernel()
    batches = []
    for i in range(0, len(htmls), ARROW_BATCH_ROWS):
        chunk = htmls[i:i + ARROW_BATCH_ROWS]
        batches.append(pa.RecordBatch.from_pydict({
            "conv_id": [f"doc-{i + j}" for j in range(len(chunk))],
            "turn_idx": pa.array([0] * len(chunk), pa.int32()),
            "text": chunk,
            "part_id": pa.array([0] * len(chunk), pa.int32()),
        }))
    with tracer.span("kernel.batches"):
        t = time.perf_counter()
        out_batches = list(fn(iter(batches)))
        kernel_s = time.perf_counter() - t
    m = {f"extract.status.{s}": n for s, n in statuses.items()}
    m.update({
        "extract.docs": len(htmls),
        "extract.doc_p50_ms": statistics.median(doc_ms),
        "extract.doc_p99_ms": _p99(doc_ms),
        "extract.doc_max_ms": max(doc_ms),
        "dom.parse_share": dom_s / extract_s,
        "readability.parse_share": read_s / extract_s,
        "readability.attempts_mean": statistics.mean(attempts),
        "kernel.docs_per_s": len(htmls) / kernel_s,
        "kernel.overhead_ratio": kernel_s / extract_s,
        "kernel.arrow_in_mb": sum(b.nbytes for b in batches) / 1e6,
        "kernel.arrow_out_mb": sum(b.nbytes for b in out_batches) / 1e6,
    })
    return m
