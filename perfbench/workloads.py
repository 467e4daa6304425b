"""The benchmark's workloads.  Each one makes its input in `make_input`,
warms the session in `warmup`, runs one unit of timed work in `run_pass`
(returning that pass's phase timings), and checks outputs in `check`."""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import checks
import gen_input
from gen_input import ROOT, TRANSCRIPT_COLS
from readability_1_spark import pipeline
from spans import Tracer, maybe_span

DATA_DIR = os.path.join(ROOT, "perfbench", "data")
CORES = 4
# The pipeline's own guidance is num_parts >= 4x cores; its default of 64
# is sized for local[32].
NUM_PARTS = 4 * CORES


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    min_passes = 1

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.tracer = None  # set for the traced part of a --trace 1 run
        self.path = None

    def make_input(self, spark: SparkSession) -> None:
        pass

    def warmup(self, spark: SparkSession) -> None:
        pass

    def run_pass(self, spark: SparkSession) -> dict:
        raise NotImplementedError

    def check(self, spark: SparkSession) -> tuple[int, int, list[str]]:
        raise NotImplementedError

    def e2e(self, passes: list[dict]) -> dict:
        """Workload-specific end-to-end figures from the pass timings."""
        return {}

    def payload_htmls(self, spark: SparkSession) -> list[str]:
        return []

    def group(self, spark: SparkSession, name: str) -> None:
        """Tag the Spark jobs that follow, for the event-log breakdown."""
        if self.tracer is not None:
            spark.sparkContext.setJobGroup(name, name)


class TimedStorage(pipeline.Storage):
    """`Storage` that records a span per `append` (by table) and `read`."""

    def __init__(self, spark, root: str, tracer: Tracer):
        super().__init__(spark, root)
        self.tracer = tracer

    def append(self, df, name, partition_by=None):
        with self.tracer.span(f"storage.append_{name}"):
            return super().append(df, name, partition_by)

    def read(self, name):
        with self.tracer.span("storage.read"):
            return super().read(name)


class ExtractJob(Workload):
    """The extraction job over skewed transcripts: `run_extraction_job` into
    a fresh parquet `Storage`, the same job again (every partition is
    checkpointed, so it resumes to nothing), then `read_consistent`."""

    name = "extract_job"
    RUN_ID = "bench"
    # The first pass after the warm-up runs in a colder JVM; the median of
    # three is one of the warmer two.
    min_passes = 3

    def make_input(self, spark):
        self.path = os.path.join(self.work, "input")
        self.html_turns = gen_input.write(spark, self.seed, self.path)

    def table(self, spark):
        return spark.read.parquet(self.path)

    def program_input(self, spark):
        return self.table(spark).select(*TRANSCRIPT_COLS)

    def extract(self, spark, num_parts: int = NUM_PARTS) -> None:
        noop_sink(pipeline.extract_transcripts(self.program_input(spark), num_parts))

    def warmup(self, spark):
        # A few HTML turns spread over every core: starts the Python workers
        # and imports the kernel in each.
        small = self.program_input(spark).limit(8)
        noop_sink(pipeline.extract_transcripts(small, num_parts=CORES))

    def storage(self, spark, root):
        if self.tracer is not None:
            return TimedStorage(spark, root, self.tracer)
        return pipeline.Storage(spark, root)

    def run_pass(self, spark):
        self.n_pass = getattr(self, "n_pass", 0) + 1
        root = os.path.join(self.work, f"store-{self.n_pass}")
        store = self.storage(spark, root)
        df = self.program_input(spark)
        t0 = time.perf_counter()
        self.group(spark, "job")
        first = pipeline.run_extraction_job(spark, df, store, run_id=self.RUN_ID,
                                            num_parts=NUM_PARTS)
        t1 = time.perf_counter()
        self.group(spark, "resume")
        second = pipeline.run_extraction_job(spark, df, store, run_id=self.RUN_ID,
                                            num_parts=NUM_PARTS)
        t2 = time.perf_counter()
        self.group(spark, "read")
        n_read = pipeline.read_consistent(store, self.RUN_ID).count()
        t3 = time.perf_counter()
        self.last = {"root": root, "first": first, "second": second, "n_read": n_read}
        return {"job_s": t1 - t0, "resume_s": t2 - t1, "read_s": t3 - t2,
                "resume_rows": second["rows"]}

    def e2e(self, passes):
        med = {k: statistics.median(p[k] for p in passes)
               for k in ("job_s", "resume_s", "read_s")}
        med["turns_per_s"] = self.html_turns / med["job_s"]
        return med

    def check(self, spark):
        """On the last timed pass's store: every HTML turn has one row with
        the golden output, the first job wrote every HTML turn, the resume
        wrote none, and `read_consistent` returns each (conv_id, turn_idx)
        once."""
        last = self.last
        store = pipeline.Storage(spark, last["root"])
        view = pipeline.read_consistent(store, self.RUN_ID)
        attempted, failed, notes = checks.check_extractions(
            self.table(spark), view, checks.golden_expectations(spark))
        distinct = view.select("conv_id", "turn_idx").distinct().count()
        for ok, what in (
            (last["first"]["rows"] == self.html_turns, "first job row count"),
            (last["second"]["rows"] == 0, "resume wrote rows"),
            (last["n_read"] == self.html_turns == distinct, "read_consistent duplicates"),
        ):
            attempted += 1
            if not ok:
                failed += 1
                notes.append(f"extract_job: {what}")
        return attempted, failed, notes

    def payload_htmls(self, spark):
        rows = (self.table(spark).filter(F.col("payload").isNotNull())
                .groupBy("payload").agg(F.first("text").alias("text"))
                .orderBy("payload").collect())
        return [r.text for r in rows]


# The Layer-P mix, run in registry order.  bpe_* is left out: its trainer
# is memoized per application, so a repeat would time the memo.  The six
# heavy queries (about 40 s on local[4], `doc_quality_classifier` also
# trains a model memoized per application) and the four slowest floor
# queries run only in traced runs, once each after the timed mix, so an
# untraced run fits its time budget.
HEAVY = ("doc_quality_classifier", "grounding_overlap_score", "outlink_host_pagerank",
         "dedup_minhash_lsh", "dedup_prefixfilter_pairs", "semdedup")
FLOOR = ("top_revenue_orders", "events_sessionize", "events_user_stats", "text_quality",
         "doc_fingerprint", "ann_cosine_topk", "dedup_bloom_membership",
         "gopher_quality_filters", "domain_cap_sample", "doclen_quantile_sketch",
         "tfidf_top_terms", "transcript_conversation_stats", "small_quantity_revenue",
         "corpus_datacard", "conversation_dedup", "role_transition_stats",
         "tool_call_stats", "mojibake_detect", "late_shipment_orders",
         "customer_order_distribution", "large_volume_orders",
         "jsonl_transcript_ingest", "pdf_page_stats", "extract_outlinks")
SLOW_FLOOR = ("extract_outlinks", "tfidf_top_terms", "events_user_stats",
              "dedup_bloom_membership")


class LayerPMix(Workload):
    name = "layerp_mix"

    def __init__(self, seed, work):
        super().__init__(seed, work)
        from readability_1_spark.queries import QUERIES

        self.queries = QUERIES
        mix = [n for n in QUERIES if n in HEAVY or n in FLOOR]
        assert len(mix) == len(HEAVY) + len(FLOOR)
        self.names = [n for n in mix if n not in HEAVY + SLOW_FLOOR]
        self.traced_only = [n for n in mix if n in HEAVY + SLOW_FLOOR]
        self.ran: dict[str, None] = {}  # every query run so far, in order
        self.rows: dict[str, tuple] = {}  # (columns, rows) of those run with keep_rows

    def warmup(self, spark):
        noop_sink(self.queries["top_revenue_orders"][0](spark, DATA_DIR))

    def run_queries(self, spark, names, keep_rows: bool = False) -> dict:
        """(build_s, exec_s) per query.  With `keep_rows`, execution
        collects the rows instead of writing them to the noop sink, and
        the check compares those rows, so it need not run the query again."""
        per = {}
        for name in names:
            self.ran[name] = None
            fn = self.queries[name][0]
            t0 = time.perf_counter()
            with maybe_span(self.tracer, f"queries.{name}.build"):
                self.group(spark, f"{name}:build")
                df = fn(spark, DATA_DIR)
            t1 = time.perf_counter()
            with maybe_span(self.tracer, f"queries.{name}.exec"):
                self.group(spark, f"{name}:exec")
                if keep_rows:
                    self.rows[name] = (df.columns, df.collect())
                else:
                    noop_sink(df)
            per[name] = (t1 - t0, time.perf_counter() - t1)
        return per

    def run_pass(self, spark):
        return {"per_query": self.run_queries(spark, self.names)}

    def e2e(self, passes):
        walls = [statistics.median(sum(p["per_query"][n]) for p in passes)
                 for n in self.names]
        return {"queries_s": sum(walls), "query_p50_s": statistics.median(walls)}

    def check(self, spark):
        """Every query that ran against its oracle."""
        return checks.check_oracle(spark, list(self.ran), self.queries, DATA_DIR, self.rows)


WORKLOADS = {w.name: w for w in (ExtractJob, LayerPMix)}
