"""Distributed-pipeline tests: per-turn equality through Spark, Window-based
ordering checks, checkpoint/resume idempotency (north-rule clauses)."""

import json
import os
import shutil

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from readability_1_spark.pipeline import (
    Storage,
    extract_transcripts,
    gate_html_turns,
    read_as_of,
    read_consistent,
    run_extraction_job,
    with_partitioning,
)
from readability_1_spark.transcripts import scaled_transcripts

from .conftest import GOLDENS_DIR, smoke_table


def _goldens_by_slug() -> dict:
    out = {}
    for fn in os.listdir(GOLDENS_DIR):
        if fn.endswith(".json") and fn != "_index.json":
            with open(os.path.join(GOLDENS_DIR, fn)) as f:
                g = json.load(f)
            out[g["slug"]] = g
    return out


@pytest.fixture(scope="module")
def extracted(spark):
    df = smoke_table(spark)
    return extract_transcripts(df, num_parts=16).collect(), df


def test_per_turn_equality_through_spark(extracted):
    rows, _ = extracted
    gold = _goldens_by_slug()
    assert len(rows) >= 103
    for r in rows:
        slug = r["conv_id"][len("conv-"):]
        g = gold[slug]
        assert r["status"] == g["status"], slug
        if g["status"] == "ok":
            res = g["result"]
            assert r["text_content"] == res["text_content"], slug
            assert r["content"] == res["content"], slug
            assert r["title"] == res["title"], slug
            assert r["length"] == res["length"], slug


def test_spans_are_consistent(extracted):
    rows, _ = extracted
    checked = 0
    for r in rows:
        if r["status"] != "ok" or not r["spans"]:
            continue
        tc = r["text_content"]
        prev_end = -1
        for span in r["spans"]:
            assert 0 <= span["start"] <= span["end"] <= len(tc)
            assert span["start"] >= prev_end or span["start"] >= 0
            prev_end = span["end"]
        checked += 1
    assert checked > 90


def test_window_ordering_invariants(spark):
    """North-rule 'stable (conv_id, turn_idx) ordering via Window checks':
    turn_idx must be contiguous from 0 and ts non-decreasing per conv."""
    df = scaled_transcripts(spark, 2000)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    checked = (
        df.withColumn("rn", F.row_number().over(w) - 1)
        .withColumn("prev_ts", F.lag("ts").over(w))
        .agg(
            F.sum(F.when(F.col("rn") != F.col("turn_idx"), 1).otherwise(0)).alias("gaps"),
            F.sum(
                F.when(F.col("prev_ts") > F.col("ts"), 1).otherwise(0)
            ).alias("ts_regressions"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )
    assert checked["n"] == 2000
    assert checked["gaps"] == 0
    assert checked["ts_regressions"] == 0


def test_smoke_transcripts_equal_committed_table(spark):
    """smoke_transcripts takes its pages from the committed smoke table and
    rebuilds that table row for row (payload numbering included)."""
    from readability_1_spark.transcripts import smoke_transcripts

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    built = rows(smoke_transcripts(spark))
    assert len(built) == 315
    assert built == rows(smoke_table(spark))


def test_dedup_before_equality_join(spark):
    df = smoke_table(spark)
    dupes = (
        df.groupBy("conv_id", "turn_idx").count().filter(F.col("count") > 1).count()
    )
    assert dupes == 0


def test_checkpoint_resume_idempotent(spark, tmp_path, monkeypatch):
    from readability_1_spark import pipeline

    root = str(tmp_path / "store")
    storage = Storage(spark, root)
    df = smoke_table(spark)
    n_parts = 8
    todo_frames = []
    extract = pipeline.extract_transcripts

    def spy(todo, *args, **kwargs):
        todo_frames.append(todo)
        return extract(todo, *args, **kwargs)

    monkeypatch.setattr(pipeline, "extract_transcripts", spy)

    # First run over only half the partitions (simulate a mid-job failure by
    # feeding a truncated input).
    gated = with_partitioning(gate_html_turns(df), n_parts)
    half = gated.filter(F.col("part_id") < 4).drop("part_id", "salt")
    r1 = run_extraction_job(spark, half, storage, run_id="runA", num_parts=n_parts)
    assert r1["rows"] > 0

    # Resume with the full input: only the remaining partitions run.
    r2 = run_extraction_job(spark, df, storage, run_id="runA", num_parts=n_parts)
    total_expected = gated.count()
    assert r1["rows"] + r2["rows"] == total_expected

    # The todo part ids reach the job as a JVM-side frame: no scan of a
    # driver-list RDD, whose Python tasks would re-pickle them.
    assert len(todo_frames) == 2
    for todo in todo_frames:
        assert "ExistingRDD" not in todo._jdf.queryExecution().sparkPlan().toString()

    # Re-running once more is a no-op (fully idempotent) that only works
    # out the empty todo set.
    sc = spark.sparkContext
    sc.setJobGroup("resume-noop", "resume-noop")
    try:
        r3 = run_extraction_job(spark, df, storage, run_id="runA", num_parts=n_parts)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert r3["rows"] == 0
    assert len(sc.statusTracker().getJobIdsForGroup("resume-noop")) <= 2
    assert len(todo_frames) == 2
    assert read_as_of(storage, "runA", r3["batch_id"]) is None

    view = read_consistent(storage, "runA")
    assert view.count() == total_expected
    assert (
        view.groupBy("conv_id", "turn_idx").count().filter(F.col("count") > 1).count()
        == 0
    )
    shutil.rmtree(root, ignore_errors=True)


def test_explain_has_pushed_filter_and_pruned_scan(spark, tmp_path):
    """The HTML gate must reach the parquet scan and the scan must not read
    payload-irrelevant columns after projection."""
    p = str(tmp_path / "t.parquet")
    smoke_table(spark).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    plan = (
        gate_html_turns(df)
        .select("conv_id", "turn_idx", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [IsNotNull(text)" in plan
    assert "role" not in plan.split("ReadSchema")[1][:200]


def test_dedup_payloads_equivalent_output(spark):
    """dedup_payloads must not change any per-turn output field (kernel is a
    pure function of the payload)."""
    smoke = smoke_table(spark)
    # A renamed copy of every conversation, so each payload repeats.
    df = smoke.unionByName(smoke.withColumn("conv_id", F.concat(F.lit("copy-"), "conv_id")))
    plain = {
        (r["conv_id"], r["turn_idx"]): (r["status"], r["text_content"], r["title"])
        for r in extract_transcripts(df, num_parts=8).collect()
    }
    dedup = {
        (r["conv_id"], r["turn_idx"]): (r["status"], r["text_content"], r["title"])
        for r in extract_transcripts(df, num_parts=8, dedup_payloads=True).collect()
    }
    assert plain == dedup


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketing demo (SURVEY §2.4 co-located joins): two tables bucketed on
    the join key join WITHOUT an Exchange on either side."""
    from readability_1_spark.transcripts import scaled_transcripts

    df = scaled_transcripts(spark, 1000).select("conv_id", "turn_idx", "role")
    df.write.mode("overwrite").option("path", str(tmp_path / "a")).bucketBy(
        8, "conv_id"
    ).sortBy("conv_id").saveAsTable("t_bucketed_a")
    df.groupBy("conv_id").count().write.mode("overwrite").option(
        "path", str(tmp_path / "b")
    ).bucketBy(8, "conv_id").saveAsTable("t_bucketed_b")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("t_bucketed_a").join(spark.table("t_bucketed_b"), "conv_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
        assert joined.count() == 1000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_bucketed_a")
        spark.sql("DROP TABLE IF EXISTS t_bucketed_b")


@pytest.mark.parametrize("dedup_payloads", [False, True])
def test_readerable_gate_path(spark, dedup_payloads):
    """readerable_gate=True must run the gate kernel and only extract
    readerable documents (matching the goldens' readerable flags), with or
    without payload dedup."""
    df = smoke_table(spark)
    gated_rows = extract_transcripts(
        df, num_parts=8, readerable_gate=True, dedup_payloads=dedup_payloads
    ).collect()
    gold = _goldens_by_slug()
    expected_readerable = {
        f"conv-{slug}" for slug, g in gold.items() if g.get("readerable")
    }
    got = {r["conv_id"] for r in gated_rows}
    # All readerable fixtures must be present; edge cases have no readerable
    # flag and are gated out or kept based on the live computation.
    missing = {c for c in expected_readerable if c not in got}
    assert not missing, missing
    for r in gated_rows:
        slug = r["conv_id"][len("conv-"):]
        g = gold[slug]
        if g["status"] == "ok" and g.get("readerable"):
            assert r["text_content"] == g["result"]["text_content"], slug


def test_pretrain_curation_pipeline(spark, tmp_path):
    """Composite curation job: extract -> dedup -> quality gates -> sink.
    Duplicate payloads collapse to one curated doc; short/chatter turns are
    gated out; stats reflect the written data."""
    from readability_1_spark.pretrain import curate_pretraining_data, run_pretrain_job
    t = smoke_table(spark)
    # Duplicate one conversation's HTML turn under a new conv to prove the
    # content-hash dedup keeps exactly one.
    dup = t.filter(F.col("conv_id") == "conv-001").withColumn(
        "conv_id", F.lit("conv-zzz-dup")
    )
    both = t.unionByName(dup)

    curated = curate_pretraining_data(both, num_parts=8)
    rows = curated.collect()
    assert len(rows) > 20
    # the duplicated page must appear exactly once, under the FIRST conv_id
    hits = [r for r in rows if r.conv_id in ("conv-001", "conv-zzz-dup")]
    assert len(hits) == 1 and hits[0].conv_id == "conv-001"
    # every kept row satisfies the gates
    for r in rows:
        assert r.n_chars >= 500 and r.n_tokens >= 80 and r.n_periods >= 3
        assert r.stopword_ratio <= 0.7

    stats = run_pretrain_job(spark, both, str(tmp_path / "out"), num_parts=8)
    assert stats["n_docs"] == len(rows)
    back = spark.read.parquet(str(tmp_path / "out" / "curated"))
    assert back.count() == len(rows)
    assert stats["total_tokens"] == sum(r.n_tokens for r in rows)


def _page(text: str) -> str:
    return (
        "<html><head><title>t</title></head><body>"
        f"<div id=\"main\"><p>{text}</p></div></body></html>"
    )


def test_pretrain_near_dedup_collapses_clusters(spark):
    """Fuzzy dedup inside curation: three near-identical long documents
    (small word-level edits — NOT exact duplicates, so the sha2 stage keeps
    all three) collapse to the single lexicographically-first keeper, while
    a distinct document survives.  near_dedup=False keeps all four."""
    from readability_1_spark.pretrain import curate_pretraining_data

    base = (
        "The quick brown fox jumps over the lazy dog near the river bank. "
        "It was a bright cold day in April and the clocks were striking "
        "thirteen while everyone went about the business of the day. "
        "Many people consider the morning train ride to be the best part "
        "of a working day in the city because it is quiet and calm. "
        "The committee reviewed all of the available evidence and decided "
        "to publish the final report in the spring of the following year. "
        "A small group of researchers gathered the samples and recorded "
        "every measurement twice to be certain of the results."
    )
    variants = [
        base,
        base.replace("quick", "swift", 1),
        base.replace("river", "canal", 1).replace("cold", "warm", 1),
    ]
    other = (
        "Completely different content about ships and harbors goes here. "
        "Sailors prepare the rigging before dawn and check every knot "
        "twice because the open sea forgives no mistakes at all. "
        "The harbor master keeps a ledger of every vessel that enters "
        "and leaves the port during the busy trading season each year. "
        "Cargo manifests are compared against the customs records to be "
        "sure that nothing is missing from the holds of the ships. "
        "In the evening the crews gather at the tavern by the water and "
        "trade stories about the storms they have survived at sea."
    )
    rows = [
        ("conv-a", i, "tool", _page(t), "browser", None)
        for i, t in enumerate(variants)
    ] + [("conv-b", 0, "tool", _page(other), "browser", None)]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )

    kept = curate_pretraining_data(t, num_parts=4).collect()
    assert {(r.conv_id, r.turn_idx) for r in kept} == {("conv-a", 0), ("conv-b", 0)}

    kept_all = curate_pretraining_data(t, num_parts=4, near_dedup=False).collect()
    assert len(kept_all) == 4


def test_pretrain_redaction_and_decontamination(spark):
    """PII redaction rewrites the shipped text (counting redactions) and
    the decontamination gate drops documents overlapping a benchmark
    shingle set; both off → original behavior."""
    from readability_1_spark.pretrain import curate_pretraining_data, shingle_set

    pii_text = (
        "Contact the author at jane.doe@example.com for the full data set. "
        "The survey methodology follows the standard practice described in "
        "the published handbook and repeats every control question twice. "
        "Results were collected over two years by a team of volunteers in "
        "three different regions of the country during the study period. "
        "All of the responses were transcribed and checked against the "
        "original recordings before the analysis began in the autumn. "
        "A public copy of the materials is hosted at https://example.com/x "
        "so that other researchers can reproduce every number in the paper."
    )
    clean_text = (
        "The festival opens with a parade through the old town and ends "
        "with a concert by the harbor that lasts late into the night. "
        "Local bakers sell bread and honey cakes from wooden stalls while "
        "children watch the puppet theatre on the square near the church. "
        "Visitors come from the surrounding villages and from the city "
        "because the program changes every year and never disappoints. "
        "Volunteers spend the whole spring preparing the decorations and "
        "rehearsing the dances that are performed on the final evening."
    )
    rows = [
        ("conv-p", 0, "tool", _page(pii_text), "browser", None),
        ("conv-c", 0, "tool", _page(clean_text), "browser", None),
    ]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )

    kept = {r.conv_id: r for r in curate_pretraining_data(t, num_parts=4).collect()}
    assert set(kept) == {"conv-p", "conv-c"}
    assert kept["conv-p"].n_pii_redactions == 2
    assert "<EMAIL>" in kept["conv-p"].text_content
    assert "<URL>" in kept["conv-p"].text_content
    assert "jane.doe@example.com" not in kept["conv-p"].text_content
    assert kept["conv-c"].n_pii_redactions == 0
    assert kept["conv-p"].n_chars == len(kept["conv-p"].text_content)

    # decontaminate against the PII doc's own shingles → only conv-c stays
    bench = shingle_set(spark.createDataFrame([(pii_text,)], "text string"))
    decon = curate_pretraining_data(t, num_parts=4, benchmark_shingles=bench)
    assert [r.conv_id for r in decon.collect()] == ["conv-c"]

    # redaction off → raw text ships
    raw = {r.conv_id: r for r in curate_pretraining_data(
        t, num_parts=4, redact_pii=False
    ).collect()}
    assert "jane.doe@example.com" in raw["conv-p"].text_content
    assert raw["conv-p"].n_pii_redactions == 0


def test_pretrain_split_and_packing(spark, tmp_path):
    """The composite assigns a content-stable split to every curated doc and
    packs the train split into fixed-token-budget sequences."""
    from readability_1_spark.pretrain import (
        curate_pretraining_data,
        pack_sequences,
        run_pretrain_job,
    )
    t = smoke_table(spark)
    curated = curate_pretraining_data(t, num_parts=8)
    rows = curated.collect()
    assert rows and all(r.split in ("train", "val", "test") for r in rows)
    # split is a pure function of the doc key: identical on a re-run
    again = {(r.conv_id, r.turn_idx): r.split for r in curated.collect()}
    assert all(again[(r.conv_id, r.turn_idx)] == r.split for r in rows)

    budget = 300
    packs = pack_sequences(curated, budget=budget, n_shards=4).collect()
    assert len(packs) == len(rows)
    by_pack = {}
    for p in packs:
        by_pack.setdefault((p.shard, p.pack_id), []).append(p)
    for members in by_pack.values():
        total = sum(m.n_tokens for m in members)
        assert total <= budget or len(members) == 1

    # conversation-level split: every turn of a conversation shares a split
    by_conv = curate_pretraining_data(t, num_parts=8, split_by="conversation")
    conv_splits = {}
    for r in by_conv.collect():
        conv_splits.setdefault(r.conv_id, set()).add(r.split)
    assert all(len(s) == 1 for s in conv_splits.values())

    stats = run_pretrain_job(
        spark, t, str(tmp_path / "out"), num_parts=8,
        pack_budget=budget, pack_shards=4,
    )
    assert stats["n_train"] + stats["n_val"] + stats["n_test"] == stats["n_docs"]
    packs_back = spark.read.parquet(str(tmp_path / "out" / "packs")).collect()
    assert len(packs_back) == stats["n_train"]
    assert stats["n_packs"] >= 1
    assert stats["n_packs"] == len({(p.shard, p.pack_id) for p in packs_back})


def test_connected_components_chain_and_isolated(spark):
    """CC over a 6-node chain (diameter 5 — forces several propagation
    rounds), a separate triangle, and an isolated node."""
    from readability_1_spark.queries import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11), (11, 12), (10, 12)],
        "doc_a int, doc_b int",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 6, 10, 11, 12, 99]], "doc_id int"
    )
    got = {r.doc_id: r.cluster_id for r in connected_components(nodes, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 10: 10, 11: 10, 12: 10, 99: 99}


def test_connected_components_iteration_bound(spark):
    """A component too deep for max_iter rounds must raise, not silently
    return a half-merged labeling.  Large-star/small-star needs O(log n)
    rounds, so a 64-node chain cannot finish in one round."""
    import pytest as _pytest

    from readability_1_spark.queries import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a int, doc_b int"
    )
    nodes = spark.createDataFrame([(i,) for i in range(64)], "doc_id int")
    with _pytest.raises(RuntimeError, match="did not converge"):
        # small_graph_edges=0 forces the star rounds (the default would take
        # the single-pass union-find fast path and never iterate)
        connected_components(nodes, edges, max_iter=1, small_graph_edges=0)


def test_connected_components_long_chain_converges(spark):
    """Round-3 verdict ask: a 1,000-doc chain-shaped near-dup corpus
    (doc i ~ doc i+1, diameter 999) must converge WITHIN the default
    max_iter bound — one-hop min-label propagation needs 999 rounds here;
    alternating large-star/small-star needs O(log n)."""
    from readability_1_spark.queries import connected_components

    n = 1000
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a int, doc_b int"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id int")
    got = connected_components(nodes, edges, small_graph_edges=0)  # star path
    assert got.filter(F.col("cluster_id") != 0).count() == 0
    assert got.count() == n
    # the small-graph union-find fast path must agree on the same chain
    fast = connected_components(nodes, edges)  # default threshold -> fast path
    assert fast.filter(F.col("cluster_id") != 0).count() == 0
    assert fast.count() == n


def test_quadratic_baselines_guarded(spark, monkeypatch):
    """The two intentional O(n²) validation twins refuse big inputs unless
    explicitly forced (so nobody silently points them at 100 TB)."""
    import pytest as _pytest

    from readability_1_spark import queries as Q

    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.001")
    monkeypatch.setattr(Q, "MAX_QUADRATIC_ROWS", 3)
    with _pytest.raises(ValueError, match="quadratic"):
        Q.q_dedup_ngram_jaccard(spark, sf_dir)
    with _pytest.raises(ValueError, match="quadratic"):
        Q.q_dedup_embedding_cosine(spark, sf_dir)
    # forced override still runs (plan construction succeeds lazily)
    Q.q_dedup_ngram_jaccard(spark, sf_dir, allow_quadratic=True)
    Q.q_dedup_embedding_cosine(spark, sf_dir, allow_quadratic=True)


def test_pretrain_paragraph_dedup_strips_shared_boilerplate(spark):
    """paragraph_dedup=True: a licence paragraph shared by two otherwise
    distinct documents survives only in the corpus-wide-first turn; unique
    paragraphs are untouched; default (off) keeps both copies."""
    from readability_1_spark.pretrain import curate_pretraining_data

    boiler = (
        "This article is licensed under the creative commons attribution "
        "share alike license and may be reproduced with attribution to the "
        "original publisher and author of the piece in question here."
    )
    body_a = (
        "The expedition crossed the high mountain pass before the first "
        "snows of the season closed the route for the rest of the winter. "
        "Supplies were carried by mule train and every crate was weighed "
        "and logged by the quartermaster at each camp along the way."
    )
    body_b = (
        "The observatory released the survey data after two years of "
        "calibration work on the new wide field camera and its filters. "
        "Astronomers around the world downloaded the catalog within hours "
        "and began cross matching the sources against earlier surveys."
    )

    def page(body):
        return (
            "<html><head><title>t</title></head><body><div id=\"main\">"
            f"<p>{body}</p>\n<p>{boiler}</p>"
            "</div></body></html>"
        )

    rows = [
        ("conv-a", 0, "tool", page(body_a), "browser", None),
        ("conv-b", 0, "tool", page(body_b), "browser", None),
    ]
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )

    kept = {
        r.conv_id: r
        for r in curate_pretraining_data(
            t, num_parts=4, paragraph_dedup=True, min_chars=100,
            min_tokens=20, min_periods=1
        ).collect()
    }
    assert set(kept) == {"conv-a", "conv-b"}
    # conv-a is first in (conv_id, turn_idx) order -> keeps the boilerplate
    assert boiler in kept["conv-a"].text_content
    assert body_a in kept["conv-a"].text_content
    # conv-b loses the duplicate paragraph but keeps its own body
    assert boiler not in kept["conv-b"].text_content
    assert body_b in kept["conv-b"].text_content

    off = {
        r.conv_id: r
        for r in curate_pretraining_data(
            t, num_parts=4, min_chars=100, min_tokens=20, min_periods=1
        ).collect()
    }
    assert boiler in off["conv-a"].text_content
    assert boiler in off["conv-b"].text_content


def test_connected_components_random_graphs_vs_union_find(spark):
    """Large-star/small-star CC vs an independent union-find oracle on
    seeded random graphs (mixed topology: chains, cliques, stars emerge at
    these densities), including isolated nodes."""
    import random

    from readability_1_spark.queries import connected_components

    def uf_labels(n, edge_list):
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edge_list:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # min-id per component
        comp_min = {}
        for v in range(n):
            r = find(v)
            comp_min[r] = min(comp_min.get(r, v), v)
        return {v: comp_min[find(v)] for v in range(n)}

    rng = random.Random(40404)
    for case in range(4):
        n = rng.randint(20, 60)
        m = rng.randint(0, n * 2)
        edge_list = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        edge_list = [e for e in edge_list if e[0] != e[1]]
        expected = uf_labels(n, edge_list)
        nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id int")
        edges = spark.createDataFrame(
            edge_list or [(0, 0)], "doc_a int, doc_b int"
        )  # (0,0) self-loop is filtered inside, yielding an empty edge set
        for kw in ({}, {"small_graph_edges": 0}):  # fast path AND star rounds
            got = {
                r.doc_id: r.cluster_id
                for r in connected_components(nodes, edges, **kw).collect()
            }
            assert got == expected, f"case {case} kw={kw}: n={n} m={len(edge_list)}"


def test_read_as_of_time_travel_equivalent(spark, tmp_path):
    """Round-4 verdict ask #6: the parquet-manifest fallback supports a
    snapshot read equivalent to Iceberg `VERSION AS OF` — reading as of
    batch 1 reproduces the table state before batch 2 existed, a
    not-yet-manifested batch is invisible, and an unknown batch returns
    None."""
    import shutil as _shutil

    from readability_1_spark.pipeline import (
        Storage,
        gate_html_turns,
        read_as_of,
        read_consistent,
        run_extraction_job,
        with_partitioning,
    )

    root = str(tmp_path / "store_tt")
    storage = Storage(spark, root)
    df = smoke_table(spark)
    n_parts = 8
    gated = with_partitioning(gate_html_turns(df), n_parts)
    half = gated.filter(F.col("part_id") < 4).drop("part_id", "salt")

    r1 = run_extraction_job(spark, half, storage, run_id="runT", num_parts=n_parts)
    r2 = run_extraction_job(spark, df, storage, run_id="runT", num_parts=n_parts)
    assert r1["rows"] > 0 and r2["rows"] > 0

    snap1 = read_as_of(storage, "runT", r1["batch_id"])
    snap2 = read_as_of(storage, "runT", r2["batch_id"])
    full = read_consistent(storage, "runT")
    assert snap1.count() == r1["rows"]
    assert snap2.count() == full.count() == r1["rows"] + r2["rows"]
    # snapshot 1 sees exactly batch 1's keys
    keys1 = {(r.conv_id, r.turn_idx) for r in snap1.select("conv_id", "turn_idx").collect()}
    keysf = {(r.conv_id, r.turn_idx) for r in full.select("conv_id", "turn_idx").collect()}
    assert keys1 < keysf
    # unknown snapshot id -> None (no such manifest commit)
    assert read_as_of(storage, "runT", "nope") is None
    # a batch whose rows are written but whose manifest slice is missing is
    # invisible: simulate by deleting batch 2's manifest rows
    kept = storage.read("checkpoints").filter(
        F.col("batch_id") != r2["batch_id"]
    )
    kept_rows, kept_schema = kept.collect(), kept.schema  # materialize first
    _shutil.rmtree(root + "/checkpoints")
    spark.createDataFrame(kept_rows, kept_schema).write.parquet(
        root + "/checkpoints"
    )
    again = read_as_of(storage, "runT", r1["batch_id"])
    assert again.count() == r1["rows"]
    _shutil.rmtree(root, ignore_errors=True)


def test_curate_model_quality_score(spark):
    """model_score=True trains the linear quality classifier on the
    corpus's own rule-gate labels (pre-gate population) and attaches a
    deterministic quality_score to every curated doc."""
    from readability_1_spark.pretrain import curate_pretraining_data
    t = smoke_table(spark)
    curated = curate_pretraining_data(
        t, num_parts=8, model_score=True
    ).collect()
    assert curated, "curation produced no rows"
    assert all(r.quality_score is not None for r in curated)
    assert all(0.0 <= r.quality_score <= 1.0 for r in curated)
    # gate survivors are the label-1 class: the model should score them
    # above the midpoint of its own score range on average
    again = {
        (r.conv_id, r.turn_idx): r.quality_score
        for r in curate_pretraining_data(
            t, num_parts=8, model_score=True
        ).collect()
    }
    assert all(
        again[(r.conv_id, r.turn_idx)] == r.quality_score for r in curated
    )
    # default path is unchanged (no quality_score column)
    plain = curate_pretraining_data(t, num_parts=8)
    assert "quality_score" not in plain.columns


def test_curate_gopher_gate(spark):
    """gopher_gate=True attaches the Gopher rule stats to every kept doc,
    keeps only docs whose shipped text passes the battery (verified
    against q_gopher_quality_filters semantics recomputed on the output),
    and is a strict subset of the default gate's survivors; the default
    path is unchanged (no gopher columns)."""
    from pyspark.sql import functions as F

    from readability_1_spark.pretrain import curate_pretraining_data
    from readability_1_spark.queries import gopher_passes_cond
    t = smoke_table(spark)
    plain = curate_pretraining_data(t, num_parts=8)
    assert "n_words" not in plain.columns
    plain_keys = {(r.conv_id, r.turn_idx) for r in plain.collect()}

    gated = curate_pretraining_data(t, num_parts=8, gopher_gate=True)
    for col in ("n_words", "mean_word_len", "symbol_ratio", "bullet_frac",
                "ellipsis_frac", "alpha_frac", "stop_hits"):
        assert col in gated.columns
    rows = gated.collect()
    assert rows, "gopher gate killed the whole corpus"
    keys = {(r.conv_id, r.turn_idx) for r in rows}
    assert keys <= plain_keys
    # every survivor actually passes the battery on its shipped stats
    recheck = gated.withColumn(
        "_p", F.coalesce(gopher_passes_cond(), F.lit(False))
    )
    assert recheck.filter(~F.col("_p")).count() == 0


def test_pretrain_conversation_cap_keeps_longest_turns(spark):
    """conversation_cap=2: a 5-turn conversation keeps only its 2 longest
    extracted turns (length DESC, turn_idx ASC), the 1-turn conversation
    is untouched; uncapped keeps all 6."""
    from readability_1_spark.pretrain import curate_pretraining_data

    filler = (
        "Many people consider the morning train ride to be the best part "
        "of a working day in the city because it is quiet and calm. "
    )
    rows = [
        ("conv-a", i, "tool",
         _page(f"Distinct topic number {i} opens this page. " + filler * (5 + i)),
         "browser", None)
        for i in range(5)
    ] + [("conv-b", 0, "tool", _page("Harbor report. " + filler * 5),
          "browser", None)]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    kept = curate_pretraining_data(
        t, num_parts=4, near_dedup=False, conversation_cap=2
    ).collect()
    # longest = highest filler multiplier = turn_idx 4 then 3
    assert {(r.conv_id, r.turn_idx) for r in kept} == {
        ("conv-a", 4), ("conv-a", 3), ("conv-b", 0)
    }
    uncapped = curate_pretraining_data(t, num_parts=4, near_dedup=False).collect()
    assert len(uncapped) == 6


def test_pretrain_ppl_tail_drop_removes_gibberish(spark):
    """ppl_tail_drop: with the quality gates opened wide, the self-trained
    bigram LM's percentile threshold keeps the fluent repeated-phrase docs
    and drops gibberish-vocabulary tail docs; the curated schema gains no
    scoring columns."""
    from readability_1_spark.pretrain import curate_pretraining_data

    fluent = (
        "the committee reviewed the report and the committee approved "
        "the report because the report was ready "
    )
    rows = [
        ("good", i, "tool", _page(f"marker{i} " + fluent * 6), "browser", None)
        for i in range(3)
    ] + [
        ("bad", i, "tool",
         _page(" ".join(f"z{i}w{j}" for j in range(60)) + "."),
         "browser", None)
        for i in range(3)
    ]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    kwargs = dict(
        num_parts=4, near_dedup=False, min_chars=1, min_tokens=1,
        min_periods=0, max_stopword_ratio=1.0,
    )
    kept = curate_pretraining_data(t, ppl_tail_drop=True,
                                   ppl_drop_frac=0.5, **kwargs).collect()
    ids = {(r.conv_id, r.turn_idx) for r in kept}
    # gibberish docs are value-tied at the threshold -> drop together
    assert ids == {("good", 0), ("good", 1), ("good", 2)}
    assert "avg_logprob" not in kept[0].asDict()
    baseline = curate_pretraining_data(t, **kwargs).collect()
    assert len(baseline) == 6                 # stage off -> nothing dropped


def test_curate_c4_and_repetition_gates(spark):
    """c4_gate / repetition_gate attach their published batteries' stats to
    every kept doc and each gate's survivors are a subset of the default
    gate's; every survivor passes its battery recomputed on the output."""
    from pyspark.sql import functions as F

    from readability_1_spark.pretrain import curate_pretraining_data
    from readability_1_spark.queries import c4_passes_cond
    t = smoke_table(spark)
    plain = curate_pretraining_data(t, num_parts=8)
    assert "n_kept_lines" not in plain.columns
    assert "dup_line_frac" not in plain.columns
    plain_keys = {(r.conv_id, r.turn_idx) for r in plain.collect()}

    c4 = curate_pretraining_data(t, num_parts=8, c4_gate=True)
    for col in ("n_lines", "n_kept_lines", "n_sentences", "bad_word_hits"):
        assert col in c4.columns
    c4_rows = c4.collect()
    assert c4_rows, "C4 gate killed the whole corpus"
    assert {(r.conv_id, r.turn_idx) for r in c4_rows} <= plain_keys
    assert c4.withColumn(
        "_p", F.coalesce(c4_passes_cond(), F.lit(False))
    ).filter(~F.col("_p")).count() == 0

    rep = curate_pretraining_data(t, num_parts=8, repetition_gate=True)
    for col in ("dup_line_frac", "top_2gram_char_frac",
                "dup_5gram_char_frac", "passes_repetition"):
        assert col in rep.columns
    rep_rows = rep.collect()
    assert rep_rows, "repetition gate killed the whole corpus"
    assert {(r.conv_id, r.turn_idx) for r in rep_rows} <= plain_keys
    assert all(r.passes_repetition for r in rep_rows)


def test_kernel_shuffle_fills_every_partition(spark):
    """The kernel stage hashes (conv_id, turn_idx) once: every partition
    gets turns.  Shuffling on a precomputed pmod(hash, n) bucket hashes it
    again and leaves partitions empty (10 of 16 filled in one benchmark
    input)."""
    out = extract_transcripts(smoke_table(spark), num_parts=16)
    per_part = out.groupBy(F.spark_partition_id().alias("p")).count().collect()
    assert len(per_part) == 16, sorted(r["count"] for r in per_part)
    assert "salt" not in with_partitioning(smoke_table(spark), 16).columns


def test_extractions_read_schema_declared(spark, tmp_path, monkeypatch):
    """Storage reads the extractions table with a declared schema: the
    footer schema parquet infers for the data columns, and STRING for the
    partition columns even when a batch_id is all digits (inference would
    make it BIGINT)."""
    import uuid

    from pyspark.sql.types import StringType, StructField, StructType

    monkeypatch.setattr(
        uuid, "uuid4", lambda: uuid.UUID("12345678-9012-4345-8789-012345678901")
    )
    root = str(tmp_path / "store")
    storage = Storage(spark, root)
    few = smoke_table(spark).filter(F.col("conv_id").startswith("conv-b"))
    assert run_extraction_job(spark, few, storage, run_id="schema", num_parts=4)["rows"] > 0
    inferred = spark.read.parquet(os.path.join(root, "extractions")).schema
    assert inferred["batch_id"].dataType.simpleString() == "bigint"
    data_cols = [f for f in inferred.fields if f.name not in ("run_id", "batch_id")]
    expected = StructType(data_cols + [StructField("run_id", StringType()),
                                       StructField("batch_id", StringType())])
    assert storage.read("extractions").schema == expected
    view = read_consistent(storage, "schema")
    assert view.schema["batch_id"].dataType == StringType()
    assert view.count() == gate_html_turns(few).count()
    shutil.rmtree(root, ignore_errors=True)
