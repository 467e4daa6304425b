"""Probe: per-query DataFrame CONSTRUCTION time vs EXECUTION time.

Round-6 finding 2 (driver-side py4j plan construction) was fixed for
ann_lsh_topk; this probe sweeps the whole bench registry so any other
build-heavy query surfaces.  Build = fn(spark, SF_DIR) wall time (pure
driver/py4j work, no job); exec = noop save wall time.

Usage: python3 tools/probe_build_exec.py [--exec] [name ...]
  default: build-only for every query in bench.py's loop (fast)
  --exec:  also run the noop save per query (bench-length)
  names:   restrict to the given queries
Prints one JSON line {"build": {...}, "exec": {...}, "capacity": [...]}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def bench_query_names() -> list[str]:
    """The exact query list bench.py times, scraped from its source."""
    import ast
    import re

    src = open(os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "bench.py")).read()
    m = re.search(r"for name in \(\n(.*?)\n    \):", src, re.S)
    if m is None:
        sys.exit("probe_build_exec: no `for name in (...)` query loop found in "
                 "bench.py; pass the query names on the command line")
    body = "(" + m.group(1) + ")"
    return list(ast.literal_eval(body))


def main() -> None:
    from bench import cpy_probe
    from readability_1_spark.queries import QUERIES
    from readability_1_spark.session import get_spark

    do_exec = "--exec" in sys.argv
    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    if not names:
        names = bench_query_names()

    cap0 = round(cpy_probe(), 4)
    spark = get_spark(app_name="probe_build_exec",
                      master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 32))
    spark.sparkContext.setLogLevel("ERROR")

    tracker = spark.sparkContext._jsc.sc().statusTracker()

    def n_jobs() -> int:
        return len(tracker.getJobIdsForGroup(None))

    build: dict[str, list] = {}
    execu: dict[str, float] = {}
    for name in names:
        fn, _sql = QUERIES[name]
        spark.sparkContext.setJobDescription(f"probe:{name}")
        j0 = n_jobs()
        t0 = time.time()
        df = fn(spark, SF_DIR)
        build[name] = [round(time.time() - t0, 3), n_jobs() - j0]
        if do_exec:
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            execu[name] = round(time.time() - t0, 3)
    spark.stop()
    cap1 = round(cpy_probe(), 4)
    print(json.dumps({"build": build, "exec": execu,
                      "cpy_probe_sec": [cap0, cap1]}))


if __name__ == "__main__":
    main()
