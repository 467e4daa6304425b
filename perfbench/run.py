"""Benchmark of the extraction pipeline and the Layer-P registry on local[4].

    python3 perfbench/run.py --workload extract_job --seed 1 --seconds 10 --trace 0

Run from the repository root.  A run sets up the Spark session and its
input once, in a fresh JVM (`setup_s`), measures whole passes of
the workload for `--seconds`, checks the outputs outside the timed region,
and prints one JSON line last: the end-to-end metrics of BENCHMARK.json,
or with `--trace 1` its per-layer metrics.  Wall times in the end-to-end
metrics leave out the share of CPU time the hypervisor stole while they
ran (/proc/stat `steal`).  perfbench/README.md describes the workloads and
what every metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import procstat
from spans import maybe_span

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
# The program's default driver heap of 8g is sized for local[32]; the
# inputs here are small, and this cap keeps the benchmark's memory small.
DRIVER_MEM = "2g"
PROGRAM_FILES = ("readability_1_spark/pipeline.py", "tests/goldens/goldens.parquet",
                 "tests/goldens/transcripts_smoke.parquet", "tools/verify_oracle.py",
                 "bench.py", "BENCHMARK.json")


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def prepare_env(work: str) -> None:
    """Keep every file Spark and the JVM write inside the checkout."""
    sys.path.insert(0, ROOT)
    from workloads import CORES

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })


def spark_conf(work: str, event_log: str | None = None) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.dir": "file://" + event_log})
    return conf


def stop_all(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for every child to end."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while len(procstat.tree_pids()) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in procstat.tree_pids()[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


class Run:
    def __init__(self, args, work: str):
        from workloads import WORKLOADS

        self.args = args
        self.work = work
        self.wl = WORKLOADS[args.workload](args.seed, work)
        self.tracer = None
        self.event_log = None  # a directory: Spark writes its event log there
        self.spark = None

    def session(self, master: str | None = None, restart: bool = False) -> dict:
        """Get the Spark session and ship the package to its workers.  With
        `restart`, stop the running SparkContext first (the JVM stays)."""
        from readability_1_spark import pipeline, session

        if restart and self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        with maybe_span(self.tracer, "session.get_spark"):
            self.spark = session.get_spark(app_name="perfbench", master=master,
                                           extra_conf=spark_conf(self.work, self.event_log))
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        with maybe_span(self.tracer, "pipeline.ensure_worker_imports"):
            pipeline.ensure_worker_imports(self.spark)
        return {"get_spark_s": t1 - t0, "ship_pyfiles_s": time.perf_counter() - t1}

    def setup(self) -> dict:
        """The run's one set-up, cold: session (it launches the JVM and
        builds and ships the package zip), input, warm-up."""
        ticks = procstat.host_cpu_ticks()
        parts = self.session()
        t0 = time.perf_counter()
        with maybe_span(self.tracer, "bench.make_input"):
            self.wl.make_input(self.spark)
        t1 = time.perf_counter()
        with maybe_span(self.tracer, "bench.warmup"):
            self.wl.warmup(self.spark)
        parts.update(input_s=t1 - t0, warmup_s=time.perf_counter() - t1)
        parts["setup_wall_s"] = sum(parts.values())
        parts["steal_share"] = procstat.steal_share(ticks, procstat.host_cpu_ticks())
        parts["setup_s"] = parts["setup_wall_s"] * (1 - parts["steal_share"])
        return parts

    def timed(self, seconds: float, min_passes: int | None = None) -> dict:
        """Whole passes for about `seconds`: at least `min_passes` (by
        default the workload's), and no pass that would, at the last pass's
        pace, end past the deadline."""
        min_passes = min_passes or self.wl.min_passes
        passes = []
        cpu0, t0 = procstat.tree_cpu_s(), time.time()
        with procstat.PssSampler() as mem:
            while True:
                t, ticks = time.perf_counter(), procstat.host_cpu_ticks()
                with maybe_span(self.tracer, "bench.pass"):
                    info = self.wl.run_pass(self.spark)
                info["wall_s"] = time.perf_counter() - t
                info["steal_share"] = procstat.steal_share(ticks, procstat.host_cpu_ticks())
                passes.append(info)
                if (len(passes) >= min_passes
                        and time.time() + info["wall_s"] - t0 > seconds):
                    break
        t1 = time.time()
        return {
            "passes": passes, "t0": t0, "t1": t1,
            "pass_s": statistics.median(p["wall_s"] * (1 - p["steal_share"]) for p in passes),
            "pass_wall_s": statistics.median(p["wall_s"] for p in passes),
            "cpu_s": (procstat.tree_cpu_s() - cpu0) / len(passes),
            "python_pss_mb": mem.peak_mb["python"],
            "jvm_pss_mb": mem.peak_mb["jvm"],
        }

    @staticmethod
    def e2e_metrics(setup: dict, region: dict) -> dict:
        return {
            "setup_s": setup["setup_s"],
            "pass_s": region["pass_s"],
            "cpu_s": region["cpu_s"],
            "python_pss_mb": region["python_pss_mb"],
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in PROGRAM_FILES if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        fail(f"not a checkout of the program (missing {', '.join(missing)})")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload!r}")

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(OUT, f"work-{tag}-{os.getpid()}")
    prepare_env(work)
    run = Run(args, work)
    try:
        if args.trace:
            import traced

            result = traced.run_traced(run)
        else:
            setup = run.setup()
            region = run.timed(args.seconds)
            attempted, failed, notes = run.wl.check(run.spark)
            result = {
                "e2e": run.e2e_metrics(setup, region),
                "extra": {
                    **run.wl.e2e(region["passes"]),
                    "pass_wall_s": region["pass_wall_s"],
                    "jvm_pss_mb": region["jvm_pss_mb"],
                    "steal_share": statistics.median(p["steal_share"] for p in region["passes"]),
                },
                "setup": setup, "passes": region["passes"],
                "attempted": attempted, "failed": failed, "notes": notes,
            }
    finally:
        stop_all(run.spark)
        shutil.rmtree(work, ignore_errors=True)

    section = "per_layer" if args.trace else "end_to_end"
    values = result["per_layer"] if args.trace else result["e2e"]
    units = {m["name"]: m["unit"] for m in spec[section]}
    if set(values) != set(units):
        fail(f"metrics differ from BENCHMARK.json {section}: "
             f"{sorted(set(values) ^ set(units))}")
    attempted, failed = result["attempted"], result["failed"]
    shown = dict(values)
    if not args.trace:
        shown.update(result["extra"])
        shown["failed_ratio"] = failed / attempted
    extra_units = {"turns_per_s": "turns/s", "failed_ratio": "ratio", "steal_share": "ratio",
                   "jvm_pss_mb": "MB"}
    for name, value in shown.items():
        print(f"{name:36s} {value:14.6g} {units.get(name) or extra_units.get(name, 's')}")
    for note in result["notes"]:
        print(f"FAILED {note}")
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"{tag}.json"), "w") as fh:
        json.dump(result, fh, indent=1, default=str)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
