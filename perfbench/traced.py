"""The `--trace 1` run: per-layer metrics for one workload.

1. Set up once (cold), with the Spark event log on, then measure the
   workload untraced as an untraced run does.
2. Wrap the program's public calls in spans, tag jobs by phase, and
   measure the workload again (plus, for layerp_mix, the queries the
   untraced mix leaves out, once each, keeping their rows for the oracle
   check).  Then undo the wrapping and measure once more: tracing overhead
   is the traced pass time minus this one.
3. Parse the event log for stage and task metrics, decompose the kernel
   in-process over the workload's distinct payloads and, for
   extract_job, time one extraction of its input on local[4] and on
   local[1] for the 1-to-4 core scaling.
"""

from __future__ import annotations

import os
import statistics
import time

import eventlog
import kernel_probe
from spans import Tracer

EVENTLOG_PER_PASS = ("jobs", "stages", "tasks", "job_sum_s", "sched_gap_s",
                     "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_mb",
                     "shuffle_read_mb", "spill_mb")
EVENTLOG_AS_IS = ("cpu_util", "kernel_task_p50_s", "kernel_task_max_s", "task_skew")
STORAGE_TABLES = ("extractions", "lineage", "checkpoints")


def install_patches(tracer: Tracer) -> None:
    from pyspark.sql import DataFrameReader

    from readability_1_spark import kernel, pipeline

    for fn in ("extract_transcripts", "run_extraction_job", "read_consistent",
               "lineage_rollup", "gate_html_turns", "with_partitioning"):
        tracer.patch(pipeline, fn, f"pipeline.{fn}")
    tracer.patch(kernel, "make_extraction_kernel", "kernel.make_extraction_kernel")
    tracer.patch(DataFrameReader, "parquet", "spark.read.parquet")


def dir_stats(root: str) -> tuple[float, int]:
    size = files = 0
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return size / 1e6, files


def timed_extract(wl, spark) -> float:
    t = time.perf_counter()
    wl.extract(spark)
    return time.perf_counter() - t


def run_traced(run) -> dict:
    import bench

    wl, seconds = run.wl, run.args.seconds
    tracer = Tracer(run_id=f"{wl.name}-{run.args.seed}-{os.getpid()}")
    run.tracer = tracer
    probes = [bench.cpy_probe()]
    run.event_log = log_dir = os.path.join(run.work, "eventlog")

    setup = run.setup()
    plain = run.timed(seconds)
    wl.tracer = tracer
    install_patches(tracer)
    traced = run.timed(seconds, min_passes=1)
    extra_queries = {}
    if wl.name == "layerp_mix":
        # Run once each; their rows are kept for the oracle check, which
        # would otherwise run them again and push the run past 180 s.
        extra_queries = wl.run_queries(run.spark, wl.traced_only, keep_rows=True)
    t_end = time.time()
    tracer.restore()
    wl.tracer = run.tracer = None
    # The same passes again, untraced: the base for the tracing overhead.
    # (The first region ran in a colder JVM and application.)
    untraced = run.timed(seconds, min_passes=1)
    attempted, failed, notes = wl.check(run.spark)
    htmls = wl.payload_htmls(run.spark)
    scaling = {}
    if wl.name == "extract_job":
        scaling[4] = timed_extract(wl, run.spark)
    run.spark.stop()  # flushes the event log
    run.spark = None

    events = eventlog.read_events(log_dir)
    ev = eventlog.summarize(events, traced["t0"], traced["t1"])
    groups = eventlog.summarize(events, traced["t0"], t_end)["groups"]
    kernel = kernel_probe.decompose(htmls, tracer) if htmls else {}

    if scaling:
        run.event_log = None
        run.session(master="local[1]", restart=True)
        wl.warmup(run.spark)
        scaling[1] = timed_extract(wl, run.spark)
    probes.append(bench.cpy_probe())

    n = len(traced["passes"])
    m = {f"session.{k}": setup[k]
         for k in ("get_spark_s", "ship_pyfiles_s", "input_s", "warmup_s")}
    e2e = wl.e2e(plain["passes"])
    for k in ("turns_per_s", "job_s", "resume_s", "read_s", "queries_s", "query_p50_s"):
        m[k] = e2e.get(k, 0.0)
    m["failed_ratio"] = failed / attempted
    m["trace.overhead_s"] = traced["pass_s"] - untraced["pass_s"]
    m["trace.overhead_ratio"] = traced["pass_s"] / untraced["pass_s"] - 1
    m["trace.spans"] = len(tracer.spans)

    m.update(dict.fromkeys(
        [f"extract.status.{s}" for s in kernel_probe.STATUSES]
        + ["extract.docs", "extract.doc_p50_ms", "extract.doc_p99_ms",
           "extract.doc_max_ms", "dom.parse_share", "readability.parse_share",
           "readability.attempts_mean", "kernel.docs_per_s", "kernel.overhead_ratio",
           "kernel.arrow_in_mb", "kernel.arrow_out_mb"], 0.0))
    m.update(kernel)

    for k in EVENTLOG_PER_PASS:
        m[f"pipeline.{k}"] = ev[k] / n
    for k in EVENTLOG_AS_IS:
        m[f"pipeline.{k}"] = ev[k]
    m["pipeline.dedup_ratio"] = len(htmls) / wl.html_turns if htmls else 0.0
    m["pipeline.scaling_eff_1_4"] = scaling[1] / (4 * scaling[4]) if scaling else 0.0

    t0 = traced["t0"]
    for table in STORAGE_TABLES:
        m[f"storage.append_{table}_s"] = tracer.total_s(f"storage.append_{table}", t0) / n
    m["storage.read_s"] = tracer.total_s("storage.read", t0) / n
    m["storage.bytes_written_mb"], m["storage.files_written"] = (
        dir_stats(wl.last["root"]) if wl.name == "extract_job" else (0.0, 0))
    m["job.spark_jobs"] = groups.get("job", {}).get("jobs", 0) / n
    m["job.resume_rows"] = sum(p.get("resume_rows", 0) for p in traced["passes"])

    names = getattr(wl, "names", [])
    build = sum(statistics.median(p["per_query"][q][0] for p in plain["passes"]) for q in names)
    exe = sum(statistics.median(p["per_query"][q][1] for p in plain["passes"]) for q in names)
    m["queries.build_s"], m["queries.exec_s"] = build, exe
    m["queries.build_share"] = build / (build + exe) if names else 0.0
    by_id = {s["id"]: s for s in tracer.spans}
    m["queries.read_parquet_calls"] = sum(
        1 for s in tracer.spans
        if s["name"] == "spark.read.parquet" and s["start"] >= t0 and s["end"] <= traced["t1"]
        and s["parent"] is not None and by_id[s["parent"]]["name"].endswith(".build")) / n
    m["queries.spark_jobs_build"] = sum(
        g["jobs"] for name, g in ev["groups"].items() if name.endswith(":build")) / n
    from workloads import HEAVY, SLOW_FLOOR

    for q in HEAVY + SLOW_FLOOR:
        m[f"queries.{q}.s"] = sum(extra_queries[q]) if extra_queries else 0.0
    m["host.jvm_pss_mb"] = plain["jvm_pss_mb"]
    m["host.cpu_probe_s"] = statistics.mean(probes)

    tracer.dump(os.path.join(os.path.dirname(run.work),
                             f"spans-{wl.name}-seed{run.args.seed}.json"))
    return {
        "per_layer": m, "e2e_untraced": run.e2e_metrics(setup, plain),
        "e2e_traced": run.e2e_metrics(setup, traced),
        "e2e_untraced_after": run.e2e_metrics(setup, untraced), "groups": groups,
        "setup": setup, "plain_passes": plain["passes"],
        "traced_passes": traced["passes"], "extra_queries": extra_queries,
        "attempted": attempted, "failed": failed, "notes": notes,
    }

