"""End-to-end pretraining-data curation pipeline: the composite job a
training-data team would actually run over an agent-transcript corpus.

    transcripts
      → HTML gate → payload-dedup extraction (kernel once per distinct page)
      → status == ok
      → exact dedup on extracted text (sha2-256, deterministic keeper)
      → fuzzy dedup: minhash-LSH near-dup pairs → connected components →
        one keeper per cluster (near-dup inflation dominates exact dups on
        crawl corpora, so a real pretraining run always has this stage)
      → decontamination (optional): docs whose 3-gram overlap with a
        broadcast benchmark shingle set exceeds a threshold are dropped
      → conversation cap (optional): keep at most N turns per conversation,
        longest first — the per-domain anti-domination cap
      → perplexity tail drop (optional): CCNet-style — score every doc with
        the corpus-self-trained bigram LM, drop the worst third (threshold
        via one percentile aggregation, no global sort)
      → PII redaction: email/URL/phone → typed sentinels, count kept
      → JVM-side quality gates (length / token count / sentence-ness /
        stopword ratio / link density proxy)
      → train/val/test split (md5 bucket of the CONTENT hash — survives
        re-ingestion, corpus growth, and keeper churn in dedup, so held-out
        text never bleeds into train across runs)
      → sequence packing of the train split (greedy fixed-token-budget
        packs, per-shard applyInPandas — the context-window filling step
        that feeds the trainer)
      → curated parquet (text + metadata + token counts + split) + pack
        manifest + a stats row

Every stage is a DataFrame transformation (no driver-side row loops, no
Python in the post-kernel path); the only Python is the extraction kernel
itself.  At 10^12 turns the dominant costs are the kernel (amortized by
payload dedup), three hash shuffles (payload hash, content hash, LSH band
signature) and a handful of diameter-bounded label-propagation rounds —
all linear in corpus size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .pipeline import extract_transcripts
from .queries import (
    PII_EMAIL,
    PII_PHONE,
    PII_URL,
    STOPWORDS,
    _md5_bucket,
    _minhash_pairs,
    _shingle_array_expr,
    _split_of,
    _words,
    connected_components,
    ffd_pack_ids,
    greedy_pack_ids,
)


def _doc_key():
    """Content-stable doc key: identical across runs/partitionings."""
    return F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string"))


def shingle_set(texts: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct 3-word shingles of a (small) text corpus — the benchmark
    side of the decontamination stage.  Meant to be broadcast."""
    ws = texts.select(_words(text_col).alias("ws"))
    return ws.select(F.explode(_shingle_array_expr()).alias("shingle")).distinct()


def curate_pretraining_data(
    transcripts: DataFrame,
    num_parts: int = 64,
    min_chars: int = 500,
    min_tokens: int = 80,
    min_periods: int = 3,
    max_stopword_ratio: float = 0.7,
    near_dedup: bool = True,
    cc_max_iter: int = 25,
    paragraph_dedup: bool = False,
    redact_pii: bool = True,
    benchmark_shingles: DataFrame | None = None,
    max_contamination: float = 0.2,
    split_by: str = "content",
    model_score: bool = False,
    gopher_gate: bool = False,
    c4_gate: bool = False,
    repetition_gate: bool = False,
    conversation_cap: int | None = None,
    ppl_tail_drop: bool = False,
    ppl_drop_frac: float = 1 / 3,
) -> DataFrame:
    """transcripts → curated documents DataFrame (no sink).

    Returns one row per kept document: provenance keys, extracted text,
    and the quality features the gates used (kept for downstream mixing/
    re-weighting decisions).
    """
    ex = extract_transcripts(
        transcripts, num_parts=num_parts, dedup_payloads=True
    ).filter(F.col("status") == "ok")

    # Exact near-source dedup on the EXTRACTED text: after boilerplate
    # removal, pages that differ only in chrome collapse; keep the
    # deterministically-first turn (lowest conv_id, turn_idx).
    w = Window.partitionBy("content_hash").orderBy("conv_id", "turn_idx")
    deduped = (
        ex.withColumn("content_hash", F.sha2(F.col("text_content"), 256))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    if near_dedup:
        # Fuzzy dedup: minhash-LSH pairs over the extracted text →
        # connected components → keep only the cluster keeper (min key).
        # The lexicographic key is deterministic because turn_idx is
        # zero-padded; keeper choice therefore matches the exact-dedup
        # discipline (lowest conv_id, turn_idx survives).
        # Materialize the extracted+exact-deduped rows ONCE: they feed the
        # pair generation AND the final anti-join, and the upstream kernel
        # must not run twice.  (On a production cluster this would be a
        # persist to reliable storage, as run_extraction_job does.)
        keyed = deduped.withColumn(
            "_nd_id",
            F.concat_ws(
                "#", "conv_id", F.lpad(F.col("turn_idx").cast("string"), 10, "0")
            ),
        ).localCheckpoint()
        pairs = _minhash_pairs(
            keyed.select(
                F.col("_nd_id").alias("doc_id"), F.col("text_content").alias("text")
            )
        ).localCheckpoint()  # feeds nodes AND edges — compute once
        # CC only over docs in ≥1 pair (everything else is its own keeper).
        nodes = (
            pairs.select(F.col("doc_a").alias("doc_id"))
            .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        # cc_max_iter reaches here from run_pretrain_job via **gates; the
        # large-star/small-star CC converges in O(log n) rounds regardless
        # of chain diameter, so the loud-failure default almost never needs
        # raising — but the knob exists for pathological corpora.
        losers = connected_components(nodes, pairs, max_iter=cc_max_iter).filter(
            F.col("doc_id") != F.col("cluster_id")
        )
        deduped = keyed.join(
            losers.select(F.col("doc_id").alias("_nd_id")), "_nd_id", "left_anti"
        ).drop("_nd_id")

    if paragraph_dedup:
        # CCNet/RefinedWeb-style paragraph-level dedup AFTER document-level
        # dedup (whole-doc duplicates are already gone; this strips shared
        # boilerplate paragraphs that survive extraction) and BEFORE the
        # PII/quality stages (token stats must describe the shipped text).
        # First corpus-wide occurrence of each trimmed non-empty paragraph
        # wins under stable (conv_id, turn_idx, position) order; empty
        # pieces are kept so surviving structure is preserved.  The
        # paragraph-digest window is the one corpus-wide shuffle; the
        # rebuild is a per-turn sort + join (bounded by document size).
        # With near_dedup off, `deduped` still reads straight from the
        # extraction kernel and this stage consumes it twice (pieces + the
        # final join) — checkpoint so the kernel never runs twice.
        if not near_dedup:
            deduped = deduped.localCheckpoint()
        pieces = deduped.select(
            "conv_id",
            "turn_idx",
            F.posexplode(
                F.split(F.col("text_content"), "\n")
            ).alias("_pos", "_piece"),
        ).withColumn(
            "_trim", F.regexp_replace("_piece", "^[ \t\r\f]+|[ \t\r\f]+$", "")
        )
        # Blank pieces are all kept and never compared — route them AROUND
        # the window (unionByName) instead of through it: every blank line
        # in the corpus hashes to the same '' partition, which would make
        # one window task the corpus-wide straggler at scale.
        blanks = pieces.filter(F.col("_trim") == "")
        w = Window.partitionBy("_trim").orderBy("conv_id", "turn_idx", "_pos")
        kept = (
            pieces.filter(F.col("_trim") != "")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .unionByName(blanks)
        )
        rebuilt = kept.groupBy("conv_id", "turn_idx").agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_piece"))),
                    lambda s: s["_piece"],
                ),
                "\n",
            ).alias("_new_text")
        )
        deduped = (
            deduped.join(rebuilt, ["conv_id", "turn_idx"], "left")
            .withColumn(
                "text_content", F.coalesce("_new_text", F.lit(""))
            )
            .drop("_new_text")
        )

    if benchmark_shingles is not None:
        # Decontamination: drop documents whose distinct-3-gram overlap with
        # the (broadcast) benchmark shingle set exceeds max_contamination —
        # the train/test-leak gate every pretraining run needs.
        sh = (
            deduped.select(
                "conv_id", "turn_idx",
                _words("text_content").alias("ws"),
            )
            .select("conv_id", "turn_idx", F.explode(_shingle_array_expr()).alias("shingle"))
            .distinct()
        )
        hits = sh.join(F.broadcast(benchmark_shingles), "shingle")
        ratios = (
            sh.groupBy("conv_id", "turn_idx")
            .agg(F.count(F.lit(1)).alias("_n_sh"))
            .join(
                hits.groupBy("conv_id", "turn_idx").agg(
                    F.count(F.lit(1)).alias("_n_hit")
                ),
                ["conv_id", "turn_idx"],
                "left",
            )
        )
        contaminated = ratios.filter(
            F.coalesce(F.col("_n_hit"), F.lit(0))
            / F.greatest(F.col("_n_sh"), F.lit(1))
            > max_contamination
        ).select("conv_id", "turn_idx")
        deduped = deduped.join(contaminated, ["conv_id", "turn_idx"], "left_anti")

    if conversation_cap is not None:
        # Anti-domination cap (the per-domain cap of q_domain_cap_sample,
        # keyed on the transcript corpus's natural domain: the
        # conversation): keep at most `conversation_cap` turns per conv_id,
        # longest first (turn_idx ASC tiebreak — deterministic total
        # order), so one mega-conversation cannot flood the blend.  One
        # row_number window on the conv key; skew is bounded by the cap.
        w_cap = Window.partitionBy("conv_id").orderBy(
            F.length("text_content").desc(), F.col("turn_idx").asc()
        )
        deduped = (
            deduped.withColumn("_cap_rn", F.row_number().over(w_cap))
            .filter(F.col("_cap_rn") <= conversation_cap)
            .drop("_cap_rn")
        )

    if ppl_tail_drop:
        # CCNet-style perplexity tail drop: score every doc with the
        # corpus-self-trained bigram LM (queries.lm_score_frame) and drop
        # the worst `ppl_drop_frac` of SCORED docs.  The threshold is ONE
        # approximate-percentile aggregation broadcast back — no global
        # sort/window, so the stage scales like any other aggregate.
        # Unscorable docs (< 2 tokens) pass through: the token-count gate
        # downstream owns them.  Runs BEFORE PII redaction so the LM sees
        # the text dedup saw.
        from .queries import lm_score_frame

        # localCheckpoint: the LM subplan (two count-table shuffles) feeds
        # BOTH the threshold aggregate and the keep join — without
        # materialization Spark would compute it twice.
        scores = lm_score_frame(
            deduped, text_col="text_content", id_cols=("conv_id", "turn_idx")
        ).localCheckpoint()
        # percentile_approx returns an actual data value, so the drop is
        # STRICT (> threshold): docs value-tied with the boundary are
        # "equally bad" and drop together (the bucket semantic), except
        # when the threshold IS the corpus maximum (all scores tied) —
        # then nothing is dropped rather than everything.
        thresh = (
            scores.filter(F.col("avg_logprob").isNotNull())
            .agg(
                F.percentile_approx(
                    "avg_logprob", float(ppl_drop_frac)
                ).alias("_ppl_thresh"),
                F.max("avg_logprob").alias("_ppl_max"),
            )
        )
        deduped = (
            deduped.join(scores, ["conv_id", "turn_idx"], "left")
            .crossJoin(F.broadcast(thresh))
            .filter(
                F.col("avg_logprob").isNull()
                | (F.col("avg_logprob") > F.col("_ppl_thresh"))
                | (F.col("_ppl_thresh") == F.col("_ppl_max"))
            )
            .drop("n_bigrams", "avg_logprob", "_ppl_thresh", "_ppl_max")
        )

    if redact_pii:
        # PII scrub AFTER dedup (hashes/pairs see the raw extraction) and
        # BEFORE the quality gates (token stats describe the shipped text).
        # Invariant: n_pii_redactions counts each pattern on the text the
        # corresponding replace actually ran on (EMAIL on raw, URL after the
        # email pass, PHONE after the url pass) — i.e. exactly the number of
        # substitutions performed, with no double-count when one pattern's
        # match sits inside another's (an email inside a URL is rewritten
        # once, and counted once).
        deduped = (
            deduped.withColumn(
                "_t1", F.regexp_replace(F.col("text_content"), PII_EMAIL, "<EMAIL>")
            )
            .withColumn("_t2", F.regexp_replace(F.col("_t1"), PII_URL, "<URL>"))
            .withColumn(
                "n_pii_redactions",
                F.size(F.regexp_extract_all("text_content", F.lit(f"({PII_EMAIL})")))
                + F.size(F.regexp_extract_all("_t1", F.lit(f"({PII_URL})")))
                + F.size(F.regexp_extract_all("_t2", F.lit(f"({PII_PHONE})"))),
            )
            .withColumn(
                "text_content", F.regexp_replace(F.col("_t2"), PII_PHONE, "<PHONE>")
            )
            .drop("_t1", "_t2")
        )
    else:
        deduped = deduped.withColumn("n_pii_redactions", F.lit(0))

    ws = _words("text_content")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(ws)
    n_stop = F.size(F.filter(ws, lambda x: F.array_contains(stop_arr, x)))
    periods = F.length("text_content") - F.length(
        F.regexp_replace("text_content", "\\.", "")
    )
    scored = deduped.select(
        "conv_id", "turn_idx", "part_id", "content_hash",
        "title", "byline", "text_content", "spans", "n_pii_redactions",
        # length of the SHIPPED text (equals the extraction `length` unless
        # redaction rewrote it)
        F.length("text_content").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        periods.alias("n_periods"),
        F.round(n_stop / F.greatest(n_tokens, F.lit(1)), 6).alias("stopword_ratio"),
    )
    gate_cond = (
        (F.col("n_chars") >= min_chars)
        & (F.col("n_tokens") >= min_tokens)
        & (F.col("n_periods") >= min_periods)
        & (F.col("stopword_ratio") <= max_stopword_ratio)
    )
    if gopher_gate:
        # Gopher rule battery (the published heuristic filter set) as an
        # additional gate over the SHIPPED text; the stats ride along on
        # every kept doc for downstream re-thresholding, and the verdict
        # joins the rule-gate condition (so with model_score it also
        # becomes part of the classifier's training labels).  Pure linear
        # column expressions — no extra shuffle.
        from .queries import gopher_passes_cond, gopher_stat_columns

        scored = scored.select("*", *gopher_stat_columns("text_content"))
        gate_cond = gate_cond & F.coalesce(gopher_passes_cond(), F.lit(False))
    if c4_gate:
        # C4 cleaning battery (Raffel et al. 2020) over the SHIPPED text —
        # line rules + page rules as published; like gopher_gate, pure
        # linear column expressions with every stat kept for downstream
        # re-thresholding.  No extra shuffle.
        from .queries import c4_passes_cond, c4_stat_columns

        scored = scored.select("*", *c4_stat_columns("text_content"))
        gate_cond = gate_cond & F.coalesce(c4_passes_cond(), F.lit(False))
    if repetition_gate:
        # Gopher REPETITION battery over the shipped text (the other half
        # of the published filter set): repeated-line fractions, top-2-gram
        # and duplicated-5-gram character fractions.  Unlike the scan-only
        # batteries this one counts n-grams per doc (explode + groupBy with
        # map-side combine, joined back on the turn key — linear, keyed
        # shuffles only).
        from .queries import repetition_stats_frame

        rep = repetition_stats_frame(
            scored.select("conv_id", "turn_idx", "text_content"),
            keys=("conv_id", "turn_idx"),
        )
        scored = scored.join(rep, ["conv_id", "turn_idx"], "left")
        gate_cond = gate_cond & F.coalesce(
            F.col("passes_repetition"), F.lit(False)
        )
    gated = scored.filter(gate_cond)
    if model_score:
        # Model-based quality scoring (CCNet/RefinedWeb pattern): train the
        # linear classifier on THIS corpus's own rule-gate labels over the
        # PRE-gate population (post-gate labels would be all-1, degenerate),
        # then attach its score to every surviving doc as metadata for
        # downstream mixing/thresholding.  Deterministic (see
        # queries.train_quality_classifier); adds QC_ITERS+1 aggregation
        # jobs over a narrow 21-column feature frame.
        from .queries import (
            qc_feature_frame,
            qc_score_frame,
            train_quality_classifier,
        )

        feats = qc_feature_frame(
            scored,
            text_col="text_content",
            id_cols=("conv_id", "turn_idx"),
            label_col=gate_cond,
        )
        w, b, feats_ck = train_quality_classifier(feats, return_feats=True)
        scores = qc_score_frame(
            feats_ck, w, b, id_cols=("conv_id", "turn_idx")
        ).withColumnRenamed("score", "quality_score")
        gated = gated.join(scores, ["conv_id", "turn_idx"], "left")
    # Split LAST: dedup/gates must not see the split (they act corpus-wide).
    # split_by="content" (default) keys the bucket on content_hash — the
    # CONTENT, not provenance — so the same text lands in the same split
    # even when re-ingestion changes which (conv_id, turn_idx) survives
    # dedup as its keeper.  split_by="conversation" keys on conv_id so ALL
    # turns of a conversation share one split — the group-aware choice when
    # turns of one conversation are correlated enough that putting some in
    # train and some in held-out would leak (the per-doc analogue of
    # GroupKFold).
    if split_by == "conversation":
        bucket = _md5_bucket(F.col("conv_id"))
    elif split_by == "content":
        bucket = _md5_bucket(F.col("content_hash"))
    else:
        raise ValueError(f"split_by must be 'content' or 'conversation', got {split_by!r}")
    return gated.withColumn("split", _split_of(bucket))


def pack_sequences(
    curated: DataFrame,
    budget: int = 2048,
    n_shards: int = 64,
    strategy: str = "ffd",
) -> DataFrame:
    """Sequence packing over curated docs: shard by deterministic doc-key
    hash, then pack within shard.  One shuffle to co-locate shards, then a
    single linear pandas pass per shard — shards are the parallelism unit
    (set n_shards ~ cores x a small factor on a real cluster).  A doc
    larger than the budget gets its own pack.

    strategy='ffd' (default): token-count-DESC first-fit-decreasing —
    tighter packs on skewed length distributions (the 11/9-OPT classic).
    strategy='greedy': order-preserving (conv_id, turn_idx) scan — use
    when downstream wants documents in conversation order within packs."""
    if strategy not in ("ffd", "greedy"):
        raise ValueError(f"strategy must be 'ffd' or 'greedy', got {strategy!r}")
    keyed = curated.select(
        "conv_id",
        "turn_idx",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        _md5_bucket(_doc_key(), n_shards).alias("shard"),
    )

    def pack(pdf):
        if strategy == "ffd":
            pdf = pdf.sort_values(
                ["n_tokens", "conv_id", "turn_idx"],
                ascending=[False, True, True],
            ).reset_index(drop=True)
            pdf["pack_id"] = ffd_pack_ids(pdf["n_tokens"], budget)
        else:
            pdf = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
            pdf["pack_id"] = greedy_pack_ids(pdf["n_tokens"], budget)
        return pdf[["conv_id", "turn_idx", "shard", "pack_id", "n_tokens"]]

    return keyed.groupBy("shard").applyInPandas(
        pack, "conv_id string, turn_idx int, shard long, pack_id long, n_tokens long"
    )


def pack_token_sequences(
    doc_ids_df: DataFrame,
    seq_len: int,
    eos_id: int,
    id_col: str = "doc_id",
    n_ranges: int = 64,
) -> DataFrame:
    """Concat-and-chunk packing of REAL token ids into fixed-length
    training sequences (GPT-style): append a document-boundary EOS marker
    to every document's id array, concatenate all documents into one
    global token stream in `id_col` order, and cut the stream every
    `seq_len` tokens.  Returns (seq_id, n_tokens, token_ids ARRAY<INT>);
    every sequence is exactly seq_len tokens except the final remainder.

    The global prefix sum is computed scale-safely in TWO passes instead
    of one single-partition global window (which would serialize the
    whole corpus through one task at 10^12 docs):
      1. range-partition by `id_col` (ascending key ranges land on
         ascending partition ids), localCheckpoint to pin the
         partitioning, then aggregate ONE row per partition (bounded by
         n_ranges — the only driver collect) and turn the running totals
         into per-partition base offsets broadcast back as a map literal;
      2. a per-partition window adds the within-partition cumulative sum,
         so every document knows its global stream offset without any
         cross-partition data movement.
    After that it is one posexplode (linear) and one shuffle on seq_id."""
    d = (
        doc_ids_df.select(
            F.col(id_col),
            F.concat("ids", F.array(F.lit(eos_id).cast("int"))).alias("ids"),
        )
        .withColumn("n", F.size("ids"))
        .repartitionByRange(n_ranges, id_col)
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    parts = sorted(
        (r.pid, r.tot)
        for r in d.groupBy("pid").agg(F.sum("n").alias("tot")).collect()
    )
    offsets, acc = {}, 0
    for pid, tot in parts:
        offsets[pid] = acc
        acc += tot
    if not offsets:  # empty corpus
        return d.sparkSession.createDataFrame(
            [], "seq_id bigint, n_tokens bigint, token_ids array<int>"
        )
    base = F.create_map(
        *[l for pid, off in sorted(offsets.items())
          for l in (F.lit(pid), F.lit(off))]
    )
    w = Window.partitionBy("pid").orderBy(id_col)
    d2 = d.withColumn(
        "start",
        F.element_at(base, F.col("pid")) + F.sum("n").over(w) - F.col("n"),
    )
    toks = d2.select("start", F.posexplode("ids").alias("p", "tid")).select(
        (F.col("start") + F.col("p")).alias("g"), "tid"
    )
    return (
        toks.withColumn("seq_id", F.expr(f"g div {int(seq_len)}"))
        .groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("g", "tid"))),
                lambda x: x["tid"],
            ).alias("token_ids"),
        )
    )


def run_pretrain_job(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    num_parts: int = 64,
    pack_budget: int = 2048,
    pack_shards: int = 64,
    pack_strategy: str = "ffd",
    **gates,
) -> dict:
    """Curate and write: curated parquet (with split column) + a pack
    manifest for the train split + a one-row stats table.  The stats and
    the packing derive from a column-pruned read-back of the written data
    (the same no-recompute discipline as run_extraction_job)."""
    curated = curate_pretraining_data(transcripts, num_parts=num_parts, **gates)
    curated_path = os.path.join(out_dir, "curated")
    curated.write.mode("overwrite").parquet(curated_path)

    back = spark.read.parquet(curated_path)
    packs = pack_sequences(
        back.filter(F.col("split") == "train"),
        budget=pack_budget,
        n_shards=pack_shards,
        strategy=pack_strategy,
    )
    packs_path = os.path.join(out_dir, "packs")
    packs.write.mode("overwrite").parquet(packs_path)

    stats_row = back.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("conv_id").alias("n_conversations"),
        F.count(F.when(F.col("split") == "train", 1)).alias("n_train"),
        F.count(F.when(F.col("split") == "val", 1)).alias("n_val"),
        F.count(F.when(F.col("split") == "test", 1)).alias("n_test"),
    ).collect()[0]
    n_packs_row = (
        spark.read.parquet(packs_path)
        .agg(F.count_distinct("shard", "pack_id").alias("n_packs"))
        .collect()[0]
    )
    stats = {k: (int(v) if v is not None else 0) for k, v in stats_row.asDict().items()}
    stats["n_packs"] = int(n_packs_row.n_packs or 0)
    spark.createDataFrame([stats]).write.mode("overwrite").parquet(
        os.path.join(out_dir, "stats")
    )
    return stats
