"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 (plus
the training-data-pipeline suite) over the driver's parquet tables;
``oracle_sql()`` gives the DuckDB-equivalent SQL for each. The KG
pipeline queries (kg_*) run over this repo's deterministic synthetic
``pages`` fixtures (FIXTURES.md) and are verified by the pytest oracle
suite instead of SQL (genuinely non-SQL ops: Arrow-UDF extraction,
embedding-reranked linking, iterative connected components).
"""

from __future__ import annotations

import os
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _kg_dir(sf_dir: str) -> str:
    """Map the driver's sf dir to the matching KG fixture scale."""
    base = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "kg")
    name = os.path.basename(os.path.normpath(sf_dir))
    scale = {"sf0.001": "sf_small", "sf0.01": "sf_med",
             "sf0.1": "sf_bench"}.get(name, "sf_med")
    d = os.path.join(base, scale)
    if not os.path.isdir(d):
        from code_indexer_spark.fixtures.gen import SCALES, generate_atomic
        generate_atomic(d, SCALES[scale])
    return d


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + deterministic copies (doc_id+100000 for doc_id%10==0)
    — gives the dedup operators known duplicates to find."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return docs.unionByName(copies)


_CORPUS_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
"""

# deterministic synthetic provider scores used by the fusion queries
# (identical arithmetic on both engines)
def _scored_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        (F.col("n_chars") / 1000.0).alias("score_a"),
        (F.pmod(F.col("doc_id") * 37 + 11, F.lit(100)) / 100.0).alias("score_b"),
    )


_SCORED_SQL = """
    SELECT doc_id,
           n_chars / 1000.0 AS score_a,
           ((doc_id * 37 + 11) % 100) / 100.0 AS score_b
    FROM documents
"""


# ---------------------------------------------------------------------------
# query implementations
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style aggregation (A12 stats analog)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
            .alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_top_customers(spark, sf_dir):
    """Hash join + agg + top-k (T1)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum("o_totalprice"), 4).alias("total_spent"),
             F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("total_spent"), F.asc("c_custkey"))
        .limit(10)
    )


def q_chunk_fixed(spark, sf_dir):
    """P1 fixed-size chunker (size 200 / overlap 30 / step 170)."""
    from code_indexer_spark.operators.extract import chunk_stage

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id"), F.col("text").alias("text_extracted")
    ).withColumn("url", F.col("doc_id").cast("string")) \
     .withColumn("warc_ts", F.to_timestamp(F.lit("2025-01-01"))) \
     .withColumn("lang", F.lit("en"))
    ch = chunk_stage(docs, chunk_size=200)
    return ch.select(
        F.col("url").cast("bigint").alias("doc_id"),
        "chunk_index", "total_chunks", "size",
        F.col("text").alias("chunk_text"),
        F.col("content_hash"),
    )


def q_chunk_smart(spark, sf_dir):
    """P2 legacy smart chunker. Oracle: committed golden parquet
    (tools/gen_chunk_goldens.py) generated by the plain-Python kernel
    that tests/test_chunker.py byte-pins — a golden read-back, not an
    independent SQL recomputation (the greedy line-packing loop has no
    SQL form)."""
    from code_indexer_spark.operators.extract import smart_chunk_stage

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id"), F.col("text").alias("text_extracted")
    ).withColumn("url", F.col("doc_id").cast("string")) \
     .withColumn("warc_ts", F.to_timestamp(F.lit("2025-01-01"))) \
     .withColumn("lang", F.lit("en"))
    ch = smart_chunk_stage(docs, chunk_size=200)
    return ch.select(
        F.col("url").cast("bigint").alias("doc_id"),
        "chunk_index", "total_chunks", "size", "line_start", "line_end",
        "content_hash")


def q_dedup_exact(spark, sf_dir):
    from code_indexer_spark.operators.dedup import exact_dupes

    return exact_dupes(_corpus(spark, sf_dir)).orderBy("keep_id")


def q_jaccard_pairs(spark, sf_dir):
    from code_indexer_spark.operators.dedup import jaccard_pairs

    return jaccard_pairs(_corpus(spark, sf_dir), threshold=0.3)


def q_jaccard_pairs_guarded(spark, sf_dir):
    """Exact Jaccard with the max_df=64 stop-shingle guard — the form
    the bench runs (the 100 TB shape: a boilerplate shingle shared by D
    docs fans into D²/2 join rows without the cut). 64 is above the
    fixture's max shingle df (9 at sf0.01, 29 at sf0.1), so pairs here
    equal the unguarded oracle path; the SQL oracle still implements
    the cut itself, keeping the entry value-checked even if the cap
    ever binds."""
    from code_indexer_spark.operators.dedup import jaccard_pairs

    return jaccard_pairs(_corpus(spark, sf_dir), threshold=0.3, max_df=64)


def q_ngram_dup_spans(spark, sf_dir):
    """Cross-doc duplicated 10-token spans over the planted-duplicate
    corpus (Lee et al. 2022 exact-substring dedup, shingle-keyed)."""
    from code_indexer_spark.operators.dedup import ngram_dup_spans

    return ngram_dup_spans(_corpus(spark, sf_dir), n=10)


def q_minhash_signatures(spark, sf_dir):
    from code_indexer_spark.operators.dedup import minhash_long

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return minhash_long(docs).withColumnRenamed("id", "doc_id")


def q_minhash_lsh_pairs(spark, sf_dir):
    from code_indexer_spark.operators.dedup import lsh_candidate_pairs

    return lsh_candidate_pairs(_corpus(spark, sf_dir))


def q_dedup_resolution(spark, sf_dir):
    """Cluster-level dedup: LSH pairs -> connected components
    (large-star/small-star) -> (doc_id, keep_id, is_canonical). Full
    value oracle: DuckDB runs 4 unrolled rounds of min-label
    propagation over the identical pair set, which equals the
    components wherever every cluster's diameter is <= 4."""
    from code_indexer_spark.operators.dedup import dedup_resolution

    return dedup_resolution(_corpus(spark, sf_dir))


def q_simhash(spark, sf_dir):
    from code_indexer_spark.operators.dedup import simhash_bits_long

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return simhash_bits_long(docs).withColumnRenamed("id", "doc_id")


def q_simhash_pairs(spark, sf_dir):
    """SimHash banded near-dup pairs over the full documents table —
    exact (blocking is lossless by pigeonhole, the packed-band-key
    rescore is exact), so the DuckDB twin, which rescores bit by bit,
    reproduces every pair and hamming distance."""
    from code_indexer_spark.operators.dedup import simhash_pairs

    return simhash_pairs(_t(spark, sf_dir, "documents")) \
        .orderBy("id_a", "id_b")


def q_embedding_dup_pairs(spark, sf_dir):
    from code_indexer_spark.operators.dedup import embedding_dup_pairs

    return embedding_dup_pairs(_t(spark, sf_dir, "embeddings"),
                               threshold=0.35)


def _emb_corpus(spark, sf_dir):
    """embeddings + planted near-duplicates: every 5th vector gets a
    copy (vec_id+100000) perturbed by similarity.planted_queries
    (cos ≈ 0.998 to its source; the fixture's random-pair max is 0.44)
    — known duplicates for the near-dup operators to find, mirroring
    _corpus for text dedup."""
    from code_indexer_spark.operators.similarity import planted_queries

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    pert = planted_queries(emb.filter(F.col("vec_id") % 5 == 0)).select(
        (F.col("query_id") + 100000).alias("vec_id"),
        F.col("query_vec").alias("embedding"))
    return emb.unionByName(pert)


_EMB_CORPUS_SQL = """
    SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
    UNION ALL
    SELECT vec_id + 100000 AS vec_id,
           list_transform(range(64),
               i -> embedding[i + 1]::DOUBLE
                    * (1.0 + 0.1 * ((((vec_id + i) % 7) - 3) / 3.0)))
               AS embedding
    FROM embeddings WHERE vec_id % 5 = 0
"""


def q_embedding_dup_pairs_lsh(spark, sf_dir):
    """The 100 TB near-dup path: banded hyperplane LSH blocking + exact
    in-bucket cosine at duplicate-level threshold (0.9) over the
    planted-duplicate corpus. Recall on the planted pairs is pinned by
    tests/test_operators.py; at this threshold the banded OR-construction
    recalls every planted pair, so the exact brute-force SQL is the
    oracle."""
    from code_indexer_spark.operators.dedup import embedding_dup_pairs_lsh

    return embedding_dup_pairs_lsh(_emb_corpus(spark, sf_dir), threshold=0.9)


def _ann_queries(emb, n=5):
    """(query_id, query_vec): the embeddings with vec_id < n, each
    probing for its own neighbors."""
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def q_ann_topk(spark, sf_dir):
    from code_indexer_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, _ann_queries(emb), k=10)


def q_ann_lsh(spark, sf_dir):
    from code_indexer_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_topk(emb, _ann_queries(emb), k=10)


def q_ann_ivf(spark, sf_dir):
    """IVF-style ANN (deterministic coarse quantizer + inverted lists);
    approximate — rows-only like ann_lsh."""
    from code_indexer_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk(emb, _ann_queries(emb), k=10)


def q_ann_recall(spark, sf_dir):
    """Recall gate for the approximate ANN variants (rows-only: LSH
    bucketing isn't SQL): recall@10 vs brute force + planted near-dup
    self-recall@1. tests/test_operators.py::test_ann_recall_gates pins
    planted >= 0.9 and the probe-sweep monotonicity."""
    from code_indexer_spark.operators.similarity import recall_report

    emb = _t(spark, sf_dir, "embeddings")
    return recall_report(emb, _ann_queries(emb, 20), k=10)


def q_rrf_fusion(spark, sf_dir):
    from code_indexer_spark.operators.fusion import add_rank, fuse_rrf

    d = _t(spark, sf_dir, "documents")
    a = add_rank(
        d.select("doc_id", F.col("n_chars").alias("s")).withColumn(
            "provider", F.lit("chars")), ["provider"], "s", "doc_id"
    ).filter(F.col("rank") <= 50)
    b = add_rank(
        d.select("doc_id", F.md5("text").alias("s")).withColumn(
            "provider", F.lit("hash")), ["provider"], "s", "doc_id"
    ).filter(F.col("rank") <= 50)
    u = a.select("doc_id", "provider", "rank").unionByName(
        b.select("doc_id", "provider", "rank"))
    return fuse_rrf(u, ["doc_id"]).orderBy(F.desc("rrf_score"), "doc_id")


def q_score_gate(spark, sf_dir):
    from code_indexer_spark.operators.fusion import score_gate

    return score_gate(_scored_docs(spark, sf_dir)).select(
        "doc_id", F.round("score_a", 6).alias("score_a"),
        F.round("score_b", 6).alias("score_b"))


def q_fuse_multiply(spark, sf_dir):
    from code_indexer_spark.operators.fusion import fuse_multiply

    return fuse_multiply(_scored_docs(spark, sf_dir)).select("doc_id", "fused")


def q_fuse_average(spark, sf_dir):
    from code_indexer_spark.operators.fusion import fuse_average

    return fuse_average(_scored_docs(spark, sf_dir)).select("doc_id", "fused")


def q_provider_parallel(spark, sf_dir):
    """E6 parallel dual-provider query: both branches in one plan,
    over-fetch 2x limit (capped 40), RRF fusion
    (query_strategy.py:344-379 semantics)."""
    from code_indexer_spark.plans.providers import execute_parallel

    d = _t(spark, sf_dir, "documents")
    primary = lambda: d.select(  # noqa: E731
        "doc_id", (F.col("n_chars") / 1000.0).alias("score"))
    secondary = lambda: d.select(  # noqa: E731
        "doc_id",
        (F.pmod(F.col("doc_id") * 37 + 11, F.lit(100)) / 100.0)
        .alias("score"))
    return execute_parallel(primary, secondary, fusion="rrf", limit=20) \
        .select("doc_id", "rrf_score", "n_providers", "providers")


def q_best_event_per_user(spark, sf_dir):
    """A8 window dedup: best-scoring event per user."""
    from code_indexer_spark.operators.fusion import dedup_by_key

    e = _t(spark, sf_dir, "events")
    return dedup_by_key(e, ["user_id"], "value", "event_id").select(
        "user_id", "event_id", "event_type", F.round("value", 4).alias("value"))


def q_multi_index_merge(spark, sf_dir):
    """A9: two 'indexes' (odd/even event ids) -> union -> window dedup
    by (user_id, event_type) keep max value."""
    from code_indexer_spark.operators.fusion import dedup_by_key

    e = _t(spark, sf_dir, "events")
    u = e.filter(F.col("event_id") % 2 == 0).unionByName(
        e.filter(F.col("event_id") % 2 == 1))
    return dedup_by_key(u, ["user_id", "event_type"], "value", "event_id") \
        .select("user_id", "event_type", "event_id",
                F.round("value", 4).alias("value"))


def q_shard_merge_topk(spark, sf_dir):
    """A7 + T1: shard union -> global top-100 by score."""
    from code_indexer_spark.operators.fusion import merge_shards_by_score

    e = _t(spark, sf_dir, "events")
    shards = [e.filter(F.pmod(F.col("user_id"), F.lit(3)) == i) for i in range(3)]
    return merge_shards_by_score(shards, "value", "event_id", 100).select(
        "event_id", "user_id", F.round("value", 4).alias("value"))


def q_rerank_funnel(spark, sf_dir):
    """T3/T4: over-fetch top-50 by value, rerank by recency, keep 10."""
    e = _t(spark, sf_dir, "events")
    cand = e.orderBy(F.desc("value"), F.asc("event_id")).limit(50)
    return (
        cand.orderBy(F.desc("ts"), F.asc("event_id")).limit(10)
        .select("event_id", "user_id", F.round("value", 4).alias("value"))
    )


def q_reconcile(spark, sf_dir):
    """U4: full-outer hash reconcile of 'indexed' vs 'current' snapshots
    (sources.tables.reconcile_status, the work list run_incremental
    consumes); keys whose status is not 'same'."""
    from code_indexer_spark.sources.tables import reconcile_status

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("h"))
    indexed = d.filter(F.col("doc_id") % 3 != 0)
    current = d.filter(F.col("doc_id") % 7 != 0)
    return reconcile_status(indexed, current, ["doc_id"]).filter(
        F.col("status") != "same")


def q_deleted_detection(spark, sf_dir):
    """U1/S3: indexed-set minus current-set via left_anti join."""
    d = _t(spark, sf_dir, "documents")
    indexed = d.select("doc_id", "source")
    current = d.filter(F.col("doc_id") % 7 != 0).select("doc_id")
    return indexed.join(current, "doc_id", "left_anti").select(
        "doc_id", "source").orderBy("doc_id")


def q_filter_nested(spark, sf_dir):
    """F1-F6: must/should/must_not nested predicate."""
    from code_indexer_spark.operators.filters import build_filter

    e = _t(spark, sf_dir, "events")
    spec = {
        "must": [
            {"key": "value", "range": {"gte": 5.0, "lt": 50.0}},
            {"key": "event_type", "match": {"any": ["click", "view", "error"]}},
        ],
        "should": [
            {"key": "event_type", "match": {"value": "error"}},
            {"key": "props", "match": {"contains": "9"}},
        ],
        "must_not": [
            {"key": "user_id", "match": {"value": 13}},
        ],
    }
    return e.filter(build_filter(spec)).select(
        "event_id", "user_id", "event_type", F.round("value", 4).alias("value"))


def q_glob_filter(spark, sf_dir):
    """F4/F5: glob match on source + case-insensitive contains."""
    from code_indexer_spark.operators.filters import glob_to_regex

    d = _t(spark, sf_dir, "documents")
    return d.filter(
        F.col("source").rlike(glob_to_regex("src1*"))
        & F.lower(F.col("text")).contains("spark")
    ).select("doc_id", "source").orderBy("doc_id")


def q_time_range_latest(spark, sf_dir):
    """F6 + A8: time-range filter + keep latest event per user."""
    from code_indexer_spark.operators.fusion import dedup_by_key

    e = _t(spark, sf_dir, "events").filter(
        (F.col("ts") >= F.lit("2024-01-05")) & (F.col("ts") < F.lit("2024-01-15"))
    )
    # dedup by recency: score = ts, tiebreak = event_id (A8 helper —
    # one copy of the keep-best-per-key idiom, not a re-rolled window)
    return dedup_by_key(e, ["user_id"], "ts", "event_id") \
        .select("user_id", "event_id", "event_type")


def q_session_windows(spark, sf_dir):
    """Sessionization (streaming concept in batch): 30-min-gap sessions
    per user via lag + cumulative session counter (S10 analog)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact integer microseconds, not unix_timestamp(): every fixture ts
    # carries sub-second parts, so whole-second truncation misclassifies
    # gaps straddling the 1800 s boundary (matches the oracle's epoch())
    epoch_us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    gap = epoch_us - F.lag(epoch_us).over(w)
    sessed = e.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1)
        .otherwise(0)
    ).withColumn("session_no", F.sum("new_sess").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        sessed.groupBy("user_id", "session_no")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("event_id").alias("first_event"))
        .orderBy("user_id", "session_no")
    )


def q_session_windows_native(spark, sf_dir):
    """§2.10 sessionization via Spark's NATIVE session_window operator
    (the same gap-merge the Structured Streaming path uses with a
    watermark) — semantics equal to the lag+cumsum form, verified by
    the oracle reproducing it."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id",
                  F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("event_id").alias("first_event"))
        .select("user_id", F.col("w.start").alias("session_start"),
                "n_events", "first_event")
        .orderBy("user_id", "session_start")
    )


def q_tumbling_window(spark, sf_dir):
    """Tumbling 1-hour windows per event_type (§2.10 window agg)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 4).alias("sum_value"))
        .orderBy("window_start", "event_type")
    )


def q_commit_agg(spark, sf_dir):
    """A11 commit aggregation: one deterministic document per user."""
    e = _t(spark, sf_dir, "events")
    item = F.concat_ws(":", F.col("event_id").cast("string"), "event_type")
    return (
        e.groupBy("user_id")
        .agg(
            F.array_join(F.array_sort(F.collect_list(item)), "\n")
            .alias("doc"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", F.md5("doc").alias("doc_hash"), "n_events")
    )


def q_langid(spark, sf_dir):
    from code_indexer_spark.operators.textstats import language_id

    return language_id(_t(spark, sf_dir, "documents")) \
        .withColumnRenamed("id", "doc_id")


def q_quality_score(spark, sf_dir):
    from code_indexer_spark.operators.textstats import quality_score

    return quality_score(_t(spark, sf_dir, "documents")) \
        .withColumnRenamed("id", "doc_id")


def q_repetition_signals(spark, sf_dir):
    """Gopher repetition filters (Rae et al. 2021): duplicated-line
    fraction, repeated-2gram occurrence fraction, top-token mass —
    the degenerate/boilerplate gate that runs before dedup."""
    from code_indexer_spark.operators.textstats import repetition_signals

    return repetition_signals(_t(spark, sf_dir, "documents")) \
        .withColumnRenamed("id", "doc_id")


def q_token_counts(spark, sf_dir):
    from code_indexer_spark.operators.textstats import token_counts

    return token_counts(_t(spark, sf_dir, "documents")) \
        .withColumnRenamed("id", "doc_id")


def q_scrub_pii(spark, sf_dir):
    """PII redaction over synthesized contact lines (every doc gets an
    email, a URL, and a long number appended — so masking and counts
    are exercised on every row)."""
    from code_indexer_spark.operators.textstats import scrub_pii

    d = _t(spark, sf_dir, "documents")
    withpii = d.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact a"),
            F.col("doc_id").cast("string"), F.lit("@example.com see "),
            F.lit("https://example.com/p/"), F.col("doc_id").cast("string"),
            F.lit(" ref 123456789"), F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return scrub_pii(withpii).select(
        F.col("id").alias("doc_id"), F.md5("text_scrubbed").alias("scrub_hash"),
        "n_emails", "n_urls", "n_longnums")


def q_corpus_mix(spark, sf_dir):
    """Training-mix construction: per-language deterministic sampling
    (50% en, all de, 25% fr) via content-keyed md5 thresholds —
    reproducible on any engine/partitioning, stable under growth."""
    from code_indexer_spark.operators.textstats import corpus_mix

    return corpus_mix(
        _t(spark, sf_dir, "documents"),
        {"en": 0.5, "de": 1.0, "fr": 0.25},
    ).select("doc_id", "lang").orderBy("doc_id")


def q_tfidf_top_terms(spark, sf_dir):
    from code_indexer_spark.operators.textstats import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents")) \
        .withColumnRenamed("id", "doc_id")


def q_top_tokens(spark, sf_dir):
    from code_indexer_spark.operators.textstats import top_tokens

    return top_tokens(_t(spark, sf_dir, "documents"))


def q_domain_cap(spark, sf_dir):
    """Per-domain crawl-mix cap (C4/RefinedWeb-style): at most 10 docs
    per source, chosen by content-keyed hash rank — deterministic,
    growth-stable, and the window parallelizes across domains."""
    from code_indexer_spark.operators.textstats import domain_cap

    return domain_cap(_t(spark, sf_dir, "documents"), cap=10) \
        .orderBy("grp", "key")


def q_bm25(spark, sf_dir):
    """Multi-term BM25 top-10 over documents for the fixed query
    ['spark', 'join', 'query'] — postings-filter pushdown plan (only
    query-term tokens shuffle), Lucene IDF variant."""
    from code_indexer_spark.operators.textstats import bm25_topk

    return bm25_topk(_t(spark, sf_dir, "documents"),
                     ["spark", "join", "query"], k=10) \
        .withColumnRenamed("id", "doc_id")


def q_decontaminate(spark, sf_dir):
    """Train/test benchmark-leakage check over the dup-seeded corpus:
    test set = doc_id % 29 == 0 (deterministic stand-in for a held-out
    benchmark), train = the rest; flag train docs sharing any 5-gram
    with the test set. The +100000 duplicate copies of test docs are
    the planted contamination the operator must find."""
    from code_indexer_spark.operators.dedup import decontaminate

    corpus = _corpus(spark, sf_dir)
    test = corpus.filter(F.col("doc_id") % 29 == 0)
    train = corpus.filter(F.col("doc_id") % 29 != 0)
    return decontaminate(train, test, k=5).orderBy("train_id")


def _url_docs(spark, sf_dir):
    """Deterministic messy-URL corpus synthesized from doc_id (the
    testdata tables carry no URL column): mixed-case scheme/host, the
    full scheme×default-port matrix (https:443 / http:80 drop;
    http:443 / https:80 / :8080 KEEP — the scheme-aware cases), real
    ports, trailing slashes, leading / trailing / multiple / ALL
    tracking params, the adversarial ``?xfbclid=1`` param whose NAME
    merely contains a tracker, embedded literal ``?trk=`` inside VALUES
    (with and without a leading real tracker), and fragments — every shape
    canonical_url must normalize (and every shape it must NOT touch).
    The synthesis arithmetic is mirrored verbatim in the oracle SQL;
    the operator under test is the canonicalization, not the
    synthesis."""
    i = F.col("doc_id")
    n = (i % 13).cast("string")
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.when(i % 3 == 0, "Http://").otherwise(F.lit("HTTPS://")),
            F.lit("Site"), (i % 5).cast("string"),
            F.lit(".Example.COM"),
            F.when(i % 4 == 0, ":443").when(i % 4 == 1, ":80")
            .when(i % 4 == 2, ":8080").otherwise(""),
            F.lit("/path/"), (i % 7).cast("string"),
            F.when(i % 3 == 0, "/").otherwise(""),
            F.when(i % 7 == 0, F.concat(F.lit("?utm_source=feed&id="), n))
            .when(i % 7 == 1,
                  F.concat(F.lit("?id="), n,
                           F.lit("&fbclid=abc&utm_campaign=x")))
            .when(i % 7 == 2, F.concat(F.lit("?xfbclid=1&id="), n))
            .when(i % 7 == 3, F.lit("?utm_medium=m&gclid=g"))
            .when(i % 7 == 4,
                  F.concat(F.lit("?utm_a=1&x=?utm_b=2&id="), n))
            .when(i % 7 == 5, F.concat(F.lit("?r=?gclid=zz&id="), n))
            .otherwise(F.concat(F.lit("?id="), n)),
            F.when(i % 6 == 0, "#frag").otherwise(""),
        ).alias("url"),
    )


_URL_DOCS_SQL = """
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'Http://' ELSE 'HTTPS://' END
           || 'Site' || (doc_id % 5)::VARCHAR || '.Example.COM'
           || CASE WHEN doc_id % 4 = 0 THEN ':443'
                   WHEN doc_id % 4 = 1 THEN ':80'
                   WHEN doc_id % 4 = 2 THEN ':8080' ELSE '' END
           || '/path/' || (doc_id % 7)::VARCHAR
           || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
           || CASE WHEN doc_id % 7 = 0
                   THEN '?utm_source=feed&id=' || (doc_id % 13)::VARCHAR
                   WHEN doc_id % 7 = 1
                   THEN '?id=' || (doc_id % 13)::VARCHAR
                        || '&fbclid=abc&utm_campaign=x'
                   WHEN doc_id % 7 = 2
                   THEN '?xfbclid=1&id=' || (doc_id % 13)::VARCHAR
                   WHEN doc_id % 7 = 3 THEN '?utm_medium=m&gclid=g'
                   WHEN doc_id % 7 = 4
                   THEN '?utm_a=1&x=?utm_b=2&id=' || (doc_id % 13)::VARCHAR
                   WHEN doc_id % 7 = 5
                   THEN '?r=?gclid=zz&id=' || (doc_id % 13)::VARCHAR
                   ELSE '?id=' || (doc_id % 13)::VARCHAR END
           || CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END AS url
    FROM documents
"""


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights: every 10th document plays the
    high-quality target corpus, the rest are the raw crawl pool —
    deterministic split so the oracle can reproduce both corpora."""
    from code_indexer_spark.operators.textstats import dsir_logweights

    docs = _t(spark, sf_dir, "documents")
    return dsir_logweights(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
    ).orderBy("doc_id")


def q_cooccur_pmi(spark, sf_dir):
    """Windowed co-occurrence PMI collocations: top-50 token pairs by
    micro-nat-rounded PMI over a 3-token window, min pair count 5 —
    the relation-candidate statistic for KG predicate discovery."""
    from code_indexer_spark.operators.textstats import cooccur_pmi

    return cooccur_pmi(_t(spark, sf_dir, "documents"),
                       window=3, min_count=5, k=50)


def q_url_canonicalize(spark, sf_dir):
    """Per-row URL canonicalization (fragment / case / default-port /
    tracking-param / trailing-slash) — every row value-checked against
    the DuckDB regex twin."""
    from code_indexer_spark.functions.columns import canonical_url

    return _url_docs(spark, sf_dir).select(
        "doc_id", "url", canonical_url("url").alias("canonical_url")
    ).orderBy("doc_id")


def q_url_dupes(spark, sf_dir):
    """Crawl URL-level dedup: refetches of the same resource under
    syntactically-different URLs collapse onto one canonical key."""
    from code_indexer_spark.operators.dedup import url_dupes

    return url_dupes(_url_docs(spark, sf_dir)).orderBy("canonical_url")


def q_snapshot_stats(spark, sf_dir):
    """S7 snapshot lifecycle under the driver's eye (VERDICT r4
    "missing" 5): commit documents as snapshot v1 in exactly 8 files
    (repartition(8) — one parquet part per task, deterministic by
    construction), compact to v2 with an unbounded byte target (ceil of
    anything / huge = 1 file), expire v1 — then report (stage, version,
    n_files, n_rows) per lifecycle step. File counts and versions are
    lifecycle CONSTANTS by construction, so the DuckDB twin can assert
    them; row count is the data-dependent value (count of documents,
    asserted identical before and after compaction — compaction must
    be a pure layout rewrite). Runs in a fresh mkdtemp per call:
    version numbers can't leak between runs."""
    import shutil
    import tempfile

    from code_indexer_spark.sources import tables

    docs = _t(spark, sf_dir, "documents")
    tdir = tempfile.mkdtemp(prefix="snapstats_")
    try:
        v1 = tables.write_snapshot(docs.repartition(8), tdir)
        before_rows = tables.read_snapshot(spark, tdir, version=v1).count()
        res = tables.compact_snapshot(spark, tdir,
                                      target_bytes=1 << 60)
        if res["conflict"]:  # loud in all modes (a bare assert is
            # stripped under -O and would decay into a bare KeyError)
            raise RuntimeError(f"unexpected compaction conflict: {res}")
        after = res["after"]
        after_rows = tables.read_snapshot(
            spark, tdir, version=after["version"]).count()
        expired = tables.expire_snapshots(tdir, keep_last=1)
        rows = [
            ("before", int(v1), int(res["before"]["n_files"]),
             int(before_rows)),
            ("after", int(after["version"]), int(after["n_files"]),
             int(after_rows)),
            ("expired", int(expired[0]) if expired else -1, 0, 0),
        ]
    finally:
        shutil.rmtree(tdir, ignore_errors=True)
    return spark.createDataFrame(
        rows, "stage string, version long, n_files long, n_rows long"
    ).orderBy("stage")


def q_image_dims(spark, sf_dir):
    """P5 image validation under a FULL value oracle: synthesize real
    image bytes per document — spec-valid PNGs (kernel/png.py encoder)
    on even ids, marker-valid JPEG shells (kernel/jpeg.py) on odd,
    deliberately-corrupt bytes on every 5th — then recover geometry
    through the Arrow-batched header-parse stage
    (multimodal.image_dims_stage: magic-sniff routing, O(header) per
    asset, decode_error rows for corrupt bytes). The synthesis
    arithmetic (dims/components/progressive as functions of doc_id) is
    mirrored verbatim in the oracle SQL — the operator under test is
    the byte-level parse and the stage plumbing, not the synthesis;
    the corrupt-row error string is deterministic so the oracle pins
    it too. The _url_docs discipline applied to binary columns."""
    from code_indexer_spark.operators.multimodal import (
        ASSET_SCHEMA, image_dims_stage,
    )
    from code_indexer_spark.util import arrow_rows

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def make_rows():
        import numpy as np

        from code_indexer_spark.kernel.jpeg import make_jpeg_fixture
        from code_indexer_spark.kernel.png import encode_png

        def rows(raw):
            i = int(raw)
            w, h = 1 + i % 16, 1 + i % 9
            if i % 5 == 0:
                content = b"not an image"
            elif i % 2 == 0:
                px = np.full((h, w, 1 + i % 4), (i * 37) % 256,
                             dtype=np.uint8)
                content = encode_png(px)
            else:
                content = make_jpeg_fixture(
                    w, h, components=1 if i % 7 == 0 else 3,
                    progressive=(i % 3 == 0))
            return [(str(i), f"asset/{i}", "image", content, len(content),
                     "bin")]

        return rows

    assets = arrow_rows(docs, ["doc_id"], ASSET_SCHEMA, make_rows)
    return (
        image_dims_stage(assets)
        .select(F.col("url").cast("long").alias("doc_id"),
                "width", "height", "components", "bit_depth",
                "progressive", "decode_error")
        .orderBy("doc_id")
    )


def q_fingerprints(spark, sf_dir):
    from code_indexer_spark.operators.textstats import fingerprints

    return fingerprints(_t(spark, sf_dir, "documents")) \
        .withColumnRenamed("id", "doc_id")


def q_snippets(spark, sf_dir):
    from code_indexer_spark.operators.textstats import snippets

    return snippets(_t(spark, sf_dir, "documents"), "spark") \
        .withColumnRenamed("id", "doc_id")


def q_rrf_multi_shard(spark, sf_dir):
    """A3 fuse_rrf_multi: rank within 3 shards, RRF-sum across shards
    (temporal_fusion.py:37-111 semantics)."""
    from code_indexer_spark.operators.fusion import add_rank, fuse_rrf

    e = _t(spark, sf_dir, "events")
    sharded = e.withColumn(
        "provider",
        F.concat(F.lit("shard"), F.pmod(F.col("user_id"), F.lit(3))))
    ranked = add_rank(
        sharded.select(F.col("event_id").alias("doc_id"), "provider",
                       F.col("value").alias("s")),
        ["provider"], "s", "doc_id",
    ).filter(F.col("rank") <= 100)
    return fuse_rrf(ranked.select("doc_id", "provider", "rank"),
                    ["doc_id"]).orderBy(F.desc("rrf_score"), "doc_id") \
        .withColumnRenamed("doc_id", "event_id")


def q_scroll_points(spark, sf_dir):
    """S4 scroll_points pagination: stable order + limit/offset."""
    d = _t(spark, sf_dir, "documents")
    page = (
        d.select("doc_id", F.md5("text").alias("payload_hash"))
        .orderBy("doc_id")
        .offset(100).limit(50)
    )
    return page


def q_point_get(spark, sf_dir):
    """S5 single-point get (ref filesystem_vector_store.py:2086):
    exact-key lookup as a pruned scan — the predicate reaches the
    parquet reader as PushedFilters (min/max row-group skipping; on the
    Iceberg layout, partition + file pruning), so the 'get' touches one
    row group, not the table. Batched key-set form: isin."""
    d = _t(spark, sf_dir, "documents")
    keys = [7, 42, 123]
    return d.filter(F.col("doc_id").isin(keys)).select(
        "doc_id", "source", "lang", F.md5("text").alias("payload_hash"))


def q_unique_counts(spark, sf_dir):
    """A13 unique-file counting: distinct sources + docs per lang."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(F.countDistinct("source").alias("n_sources"),
             F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang")
    )


def q_language_expand(spark, sf_dir):
    """F8 language filter expansion: friendly name -> extension set,
    filter via isin (language_mapper.py:29-60 semantics)."""
    from code_indexer_spark.operators.filters import expand_language

    d = _t(spark, sf_dir, "documents")
    ext = F.element_at(
        F.array(F.lit("py"), F.lit("pyw"), F.lit("js"), F.lit("go")),
        (F.pmod(F.col("doc_id"), F.lit(4)) + 1).cast("int"))
    return (
        d.withColumn("ext", ext)
        .filter(F.col("ext").isin(expand_language("python")))
        .select("doc_id", "ext")
        .orderBy("doc_id")
    )


def q_merge_upsert(spark, sf_dir):
    """S6 MERGE semantics: source wins on key collision, unmatched
    target rows survive, brand-new keys insert."""
    from code_indexer_spark.sources.tables import merge_upsert

    d = _t(spark, sf_dir, "documents")
    target = d.select("doc_id", F.md5("text").alias("payload"))
    source = d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.md5(F.concat_ws("#", "text", F.lit("v2"))).alias("payload")
    ).unionByName(
        d.filter(F.col("doc_id") % 25 == 0).select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            F.md5(F.concat_ws("#", "text", F.lit("new"))).alias("payload"))
    )
    return merge_upsert(target, source, ["doc_id"])


def q_merge_clean_orphans(spark, sf_dir):
    """S6 orphan cleanup: re-indexed docs keep ONLY their new chunks
    (WHEN NOT MATCHED BY SOURCE THEN DELETE scoped to touched doc_ids)."""
    from code_indexer_spark.sources.tables import merge_upsert_clean_orphans

    d = _t(spark, sf_dir, "documents")
    target = d.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(2))).alias("chunk_index")
    ).withColumn(
        "h", F.md5(F.concat_ws("#", "doc_id", "chunk_index")))
    source = d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.lit(0).alias("chunk_index"),
        F.md5(F.concat_ws("#", "doc_id", F.lit("re"))).alias("h"))
    return merge_upsert_clean_orphans(target, source, ["doc_id"])


def q_incremental_scan(spark, sf_dir):
    """S2 incremental scan: rows newer than a watermark (partition-
    prunable predicate)."""
    from code_indexer_spark.sources.tables import incremental_read

    return incremental_read(
        spark, os.path.join(sf_dir, "events.parquet"), "ts", "2024-01-20"
    ).select("event_id", "user_id", "event_type",
             F.round("value", 4).alias("value"))


def q_identifiers(spark, sf_dir):
    """P9 identifier tokenization as a JVM-side column expression."""
    from code_indexer_spark.functions.columns import identifiers

    d = _t(spark, sf_dir, "documents")
    ids = identifiers("text")
    return d.select(
        "doc_id", F.size(ids).alias("n_identifiers"),
        F.array_join(ids, " ").alias("identifiers_joined"))


def q_markdown_images(spark, sf_dir):
    """P4 markdown image extraction over synthesized markdown (one
    local, one remote-filtered, one root-relative ref per doc)."""
    from code_indexer_spark.functions.columns import markdown_image_refs

    d = _t(spark, sf_dir, "documents")
    md = F.concat(
        F.lit("![a](assets/"), F.col("doc_id").cast("string"),
        F.lit(".png) see ![b](https://cdn.example.com/x.jpg) and ![c](/img/"),
        F.col("source"), F.lit(".webp) "), F.col("text"))
    refs = markdown_image_refs(md)
    return d.select(
        "doc_id", F.size(refs).alias("n_images"),
        F.array_join(refs, ",").alias("images_joined"))


def q_norm_surface(spark, sf_dir):
    """Alias-key normalization (Column twin of kernel.nlp
    normalize_surface) over the first 100 chars of each doc."""
    from code_indexer_spark.functions.columns import norm_surface

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", norm_surface(F.substring("text", 1, 100)).alias("norm"))


def _cosupplier_edges(spark, sf_dir):
    """(src, dst) co-supplier graph: two suppliers are linked when they
    supply the same part. Symmetric, no self-loops."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey").distinct()
    return (
        li.alias("a").join(li.alias("b"),
                           F.col("a.l_partkey") == F.col("b.l_partkey"))
        .filter(F.col("a.l_suppkey") != F.col("b.l_suppkey"))
        .select(F.col("a.l_suppkey").alias("src"),
                F.col("b.l_suppkey").alias("dst")).distinct()
    )


def q_graph_deps(spark, sf_dir):
    """G3 depth-2 dependencies: supplier -> part -> co-supplier."""
    return (
        _cosupplier_edges(spark, sf_dir).filter(F.col("src") % 50 == 0)
        .select(F.col("src").alias("suppkey"),
                F.col("dst").alias("co_suppkey"))
        .orderBy("suppkey", "co_suppkey")
    )


def q_graph_impact(spark, sf_dir):
    """G4 BFS (depth<=2, min dist) over the co-supplier graph from seed
    0. impact_bfs walks reversed edges; the graph is symmetric, so that
    is the same walk."""
    from code_indexer_spark.operators.graph import impact_bfs

    edges = _cosupplier_edges(spark, sf_dir)
    seeds = edges.filter(F.col("src") == 0).select(F.col("src").alias("node"))
    return impact_bfs(edges, seeds, max_depth=2).select(
        F.col("node").alias("dst"), "dist").orderBy("dist", "dst")


def q_pagerank(spark, sf_dir):
    """Entity importance via 3 PageRank rounds over the co-supplier
    graph (per-round rounding makes the recurrence engine-portable)."""
    from code_indexer_spark.operators.graph import pagerank

    return pagerank(_cosupplier_edges(spark, sf_dir)).orderBy(
        F.desc("pr"), "node").limit(100)


def q_smart_context(spark, sf_dir):
    """G6 smart-context composite over the supplier graph analog:
    target = supplier 0; files = parts; definition = parts supplier 0
    supplies; dependents = co-suppliers on those parts (depth-1
    impact); references = orders touching those parts."""
    from code_indexer_spark.operators.graph import smart_context

    li = _t(spark, sf_dir, "lineitem")
    target_parts = li.filter(F.col("l_suppkey") == 0) \
        .select("l_partkey").distinct()
    defs = target_parts.select(
        F.col("l_partkey").alias("file"), F.lit("s0").alias("symbol"))
    deps = (
        li.join(target_parts, "l_partkey")
        .filter(F.col("l_suppkey") != 0)
        .select(F.col("l_partkey").alias("file"),
                F.concat(F.lit("s"), F.col("l_suppkey")).alias("symbol"))
        .distinct()
    )
    refs = (
        li.join(target_parts, "l_partkey")
        .select(F.col("l_partkey").alias("file"),
                F.concat(F.lit("o"), F.col("l_orderkey")).alias("symbol"))
        .distinct()
    )
    return smart_context(defs, deps, refs, limit=20, min_score=0.0)


def q_call_chains(spark, sf_dir):
    """G5-style path assembly: customer -> nation -> region paths."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100)
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select(
            "c_custkey",
            F.concat_ws(" > ", "c_name", "n_name", "r_name").alias("path"),
            F.lit(3).alias("depth"),
        )
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# KG pipeline queries (pages fixtures; pytest-verified — rows-only here)
# ---------------------------------------------------------------------------

def kg_chunks(spark, sf_dir):
    from code_indexer_spark.plans.pipeline import build_chunks

    return build_chunks(spark, _kg_dir(sf_dir)).select(
        "url", "chunk_index", "total_chunks", "size", "line_start",
        "line_end", "content_hash", "point_id", "vbucket")


def kg_mentions(spark, sf_dir):
    from code_indexer_spark.plans.pipeline import build_mentions

    # array_join: the driver's canonical sort can't factorize array
    # cells; the real pipeline table keeps entity_id_candidates as
    # array<string> — only this check projection flattens it
    return build_mentions(spark, _kg_dir(sf_dir)).withColumn(
        "entity_id_candidates", F.array_join("entity_id_candidates", ","))


def kg_triples(spark, sf_dir):
    from code_indexer_spark.plans.pipeline import build_canonical_triples

    return build_canonical_triples(spark, _kg_dir(sf_dir))


def kg_search(spark, sf_dir):
    """§3.2 semantic search lifecycle over the chunks table (exact
    profile; rows-only — the Arrow-UDF embedding is not SQL)."""
    from code_indexer_spark.plans.pipeline import build_chunks
    from code_indexer_spark.plans.search import semantic_search

    chunks = build_chunks(spark, _kg_dir(sf_dir))
    return semantic_search(
        chunks, "Report on partners and acquisitions", k=10,
        filter_spec={"must": [{"key": "lang", "match": {"value": "en"}}]})


def kg_hybrid_search(spark, sf_dir):
    """A2 FTS ∥ semantic RRF merge (rows-only).

    The chunks stage is persisted first: both branches scan it, and
    without staging the fused extract+chunk+embed UDF would run twice
    (in production hybrid search reads the materialized chunks table at
    rest, exactly this shape)."""
    from code_indexer_spark.plans.pipeline import build_chunks
    from code_indexer_spark.plans.search import hybrid_search

    return hybrid_search(build_chunks(spark, _kg_dir(sf_dir)).persist(),
                         "partners", k=10)


def kg_time_range(spark, sf_dir):
    """§3.3 temporal path: time-range predicate on warc_ts (partition-
    prunable at scale: days(warc_ts) Iceberg transform) -> triples from
    just that slice (rows-only)."""
    import pyspark.sql.functions as F2

    from code_indexer_spark.plans.pipeline import (
        build_raw_triples, read_pages)

    kg = _kg_dir(sf_dir)
    pages = read_pages(spark, kg).filter(
        (F2.col("warc_ts") >= F2.lit("2025-01-01"))
        & (F2.col("warc_ts") < F2.lit("2025-01-02")))
    return build_raw_triples(spark, kg, pages=pages)


def kg_reconcile_incremental(spark, sf_dir):
    """U4 -> E3 composition (rows-only): reconcile a simulated indexed
    snapshot (10% of urls never indexed = added; 1-in-7 of the rest
    carry a stale hash = changed; planted stale triples for the changed
    urls) against current pages, re-extract only the work list, MERGE.
    The result must equal a full rebuild — pinned by
    tests/test_resume.py::test_reconcile_incremental, which also proves
    only the work-list pages enter the UDF stage."""
    from code_indexer_spark.functions.columns import triple_id
    from code_indexer_spark.plans.pipeline import (
        build_canonical_triples, read_pages, run_incremental)

    kg = _kg_dir(sf_dir)
    pages = read_pages(spark, kg)
    bucket = F.pmod(F.xxhash64("url"), F.lit(10))
    stale = F.pmod(F.xxhash64("url"), F.lit(7)) == 0
    indexed = pages.filter(bucket != 0)
    indexed_index = indexed.select(
        "url",
        F.when(stale, F.md5(F.concat_ws("#", F.md5("html"), F.lit("stale"))))
        .otherwise(F.md5(F.col("html"))).alias("h"),
    )
    unchanged_pages = indexed.filter(~stale)
    prior = build_canonical_triples(spark, kg, pages=unchanged_pages)
    # planted stale rows for the changed urls: orphan cleanup must drop
    # every one of them when those urls re-extract
    planted = indexed.filter(stale).select(
        F.concat(F.lit("stale:"), "url").alias("subj"),
        F.lit("stale_pred").alias("pred"), F.lit("stale_obj").alias("obj"),
        F.col("url").alias("src_url"), F.lit("stale_rule").alias("rule_id"),
        F.lit(0.0).alias("confidence"),
    ).withColumn("triple_id", triple_id("subj", "pred", "obj", "src_url"))
    return run_incremental(spark, kg, prior.unionByName(planted),
                           indexed_index)


def kg_nodes(spark, sf_dir):
    from code_indexer_spark.plans.pipeline import (
        build_nodes, cached_canonical_mapping, read_entities)

    kg = _kg_dir(sf_dir)
    return build_nodes(kg_triples(spark, sf_dir), read_entities(spark, kg),
                       cached_canonical_mapping(spark, kg))


def kg_edges(spark, sf_dir):
    from code_indexer_spark.plans.pipeline import build_edges

    return build_edges(kg_triples(spark, sf_dir))


def _kg_graph(triples):
    """(src, dst) adjacency of canonical triples in the REAL
    materialized-edges shape: build_edges output read back the way a
    consumer reads the salted table — src recovered by stripping the
    skew salt, split(salted_key, '#')[0] (plans/pipeline.py build_edges)."""
    from code_indexer_spark.plans.pipeline import build_edges

    return build_edges(triples).select(
        F.split("salted_key", "#")[0].alias("src"),
        F.col("obj").alias("dst"))


def _top_nodes(g, col, n):
    """The n nodes of edge column ``col`` with the most edges, ties
    broken by name: the deterministic seed rule of the kg_* graph
    queries. One column, ``node``."""
    return (g.groupBy(F.col(col).alias("node"))
            .agg(F.count(F.lit(1)).alias("deg"))
            .orderBy(F.desc("deg"), "node").limit(n).select("node"))


def kg_graph_impact(spark, sf_dir):
    """G4 impact BFS over the real KG edges table (rows-only — the
    upstream triples come from the Arrow-UDF extract pipeline): seeds
    are the 3 highest in-degree canonical entities (deterministic
    tie-break by name), answering "which entities transitively point at
    the hubs, and how far out" — the KG twin of the reference's
    analyze_impact over dependents (scip/query/primitives.py:273-325).
    """
    from code_indexer_spark.operators.graph import impact_bfs

    g = _kg_graph(kg_triples(spark, sf_dir))
    return impact_bfs(g, _top_nodes(g, "dst", 3), max_depth=3).orderBy(
        "dist", "node")


def kg_pagerank(spark, sf_dir):
    """Entity importance propagated over the real KG link structure
    (rows-only): pagerank on the desalted build_edges adjacency —
    the ranking signal the reference approximates with raw mention
    counts (scip/query/primitives.py:234-357), run on the exact table
    a consumer would read."""
    from code_indexer_spark.operators.graph import pagerank

    return (pagerank(_kg_graph(kg_triples(spark, sf_dir)), iters=3)
            .orderBy(F.desc("pr"), "node").limit(20))


def kg_smart_context(spark, sf_dir):
    """G6 smart-context composite over the REAL KG tables (rows-only):
    curated page list for the top in-degree canonical entity — the KG
    twin of the reference's smart context for one symbol
    (scip/query/composites.py:653-884), with page/url standing in for
    file and entity for symbol. definitions = pages asserting the
    target as SUBJECT (score 1.0); dependents = pages asserting a
    depth-1 in-neighbor entity as subject (0.7); references = pages
    carrying the target as OBJECT (0.6). Same seed rule as
    kg_graph_impact (max in-degree, tie-break by name) so the target
    is deterministic on the seed-fixed fixtures."""
    from code_indexer_spark.operators.graph import smart_context

    # trip feeds three join branches (definitions/dependents/references)
    # and g, built from trip, two (target degree + in-neighbors):
    # checkpoint both once so the Arrow-UDF extract runs once, not per
    # branch — same reasoning as kg_call_chains' checkpoint of g
    trip = kg_triples(spark, sf_dir).localCheckpoint(eager=True)
    g = _kg_graph(trip).localCheckpoint(eager=True)
    # 1-row bounded collect (the documented driver-side discipline):
    # joining the limit-1 aggregate into three branches would recompute
    # it per branch; a literal filter is narrow and pushes down
    target = _top_nodes(g, "dst", 1).first()["node"]
    definitions = (trip.filter(F.col("subj") == target)
                   .select(F.col("src_url").alias("file"),
                           F.col("subj").alias("symbol")).distinct())
    in_neighbors = (g.filter(F.col("dst") == target)
                    .select(F.col("src").alias("nbr")).distinct())
    dependents = (trip.join(in_neighbors, trip.subj == in_neighbors.nbr)
                  .select(F.col("src_url").alias("file"),
                          F.col("subj").alias("symbol")).distinct())
    references = (trip.filter(F.col("obj") == target)
                  .select(F.col("src_url").alias("file"),
                          F.col("obj").alias("symbol")).distinct())
    return smart_context(definitions, dependents, references, limit=20)


def kg_call_chains(spark, sf_dir):
    """G5 call chains over the real desalted KG adjacency (rows-only):
    beam-bounded simple paths (depth, then lexicographic) from the
    top OUT-degree entity to the top IN-degree entity up to depth 4 —
    the reference's trace_call_chain (scip/query/composites.py:365-520)
    run on the exact edges table a consumer reads. Endpoint selection
    is deterministic (degree then name), matching the kg_graph_impact
    seed discipline; the max_paths=20000 beam is load-bearing —
    hub-to-hub simple-path counts grow factorially (721k at the
    20k-page fixture already), so the uncapped enumeration is a scale
    trap. At sf0.001 every frontier fits the beam (max 1069), so the
    result is the exact full enumeration (13 paths, pinned)."""
    from code_indexer_spark.operators.graph import call_chains

    g = _kg_graph(kg_triples(spark, sf_dir)).localCheckpoint(eager=True)
    src = _top_nodes(g, "src", 1).first()["node"]
    dst = _top_nodes(g, "dst", 1).first()["node"]
    return call_chains(g, src, dst, max_depth=4, max_paths=20000)


# ---------------------------------------------------------------------------
# contract functions
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: canonical KG triples over the sf0.001-scale pages."""
    return kg_triples(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pricing_summary": q_pricing_summary,
        "top_customers": q_top_customers,
        "chunk_fixed": q_chunk_fixed,
        "chunk_smart": q_chunk_smart,
        "dedup_exact": q_dedup_exact,
        "jaccard_pairs": q_jaccard_pairs,
        "jaccard_pairs_guarded": q_jaccard_pairs_guarded,
        "ngram_dup_spans": q_ngram_dup_spans,
        "minhash_signatures": q_minhash_signatures,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "dedup_resolution": q_dedup_resolution,
        "simhash": q_simhash,
        "simhash_pairs": q_simhash_pairs,
        "embedding_dup_pairs": q_embedding_dup_pairs,
        "embedding_dup_pairs_lsh": q_embedding_dup_pairs_lsh,
        "ann_topk": q_ann_topk,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "ann_recall": q_ann_recall,
        "rrf_fusion": q_rrf_fusion,
        "score_gate": q_score_gate,
        "fuse_multiply": q_fuse_multiply,
        "fuse_average": q_fuse_average,
        "provider_parallel": q_provider_parallel,
        "best_event_per_user": q_best_event_per_user,
        "multi_index_merge": q_multi_index_merge,
        "shard_merge_topk": q_shard_merge_topk,
        "rerank_funnel": q_rerank_funnel,
        "reconcile": q_reconcile,
        "deleted_detection": q_deleted_detection,
        "filter_nested": q_filter_nested,
        "glob_filter": q_glob_filter,
        "time_range_latest": q_time_range_latest,
        "session_windows": q_session_windows,
        "session_windows_native": q_session_windows_native,
        "tumbling_window": q_tumbling_window,
        "commit_agg": q_commit_agg,
        "langid": q_langid,
        "quality_score": q_quality_score,
        "repetition_signals": q_repetition_signals,
        "token_counts": q_token_counts,
        "top_tokens": q_top_tokens,
        "tfidf_top_terms": q_tfidf_top_terms,
        "bm25": q_bm25,
        "domain_cap": q_domain_cap,
        "decontaminate": q_decontaminate,
        "dsir_weights": q_dsir_weights,
        "cooccur_pmi": q_cooccur_pmi,
        "url_canonicalize": q_url_canonicalize,
        "url_dupes": q_url_dupes,
        "snapshot_stats": q_snapshot_stats,
        "image_dims": q_image_dims,
        "corpus_mix": q_corpus_mix,
        "scrub_pii": q_scrub_pii,
        "fingerprints": q_fingerprints,
        "snippets": q_snippets,
        "rrf_multi_shard": q_rrf_multi_shard,
        "scroll_points": q_scroll_points,
        "point_get": q_point_get,
        "unique_counts": q_unique_counts,
        "language_expand": q_language_expand,
        "merge_upsert": q_merge_upsert,
        "merge_clean_orphans": q_merge_clean_orphans,
        "incremental_scan": q_incremental_scan,
        "identifiers": q_identifiers,
        "markdown_images": q_markdown_images,
        "norm_surface": q_norm_surface,
        "graph_deps": q_graph_deps,
        "graph_impact": q_graph_impact,
        "call_chains": q_call_chains,
        "smart_context": q_smart_context,
        "pagerank": q_pagerank,
        "kg_chunks": kg_chunks,
        "kg_mentions": kg_mentions,
        "kg_triples": kg_triples,
        "kg_search": kg_search,
        "kg_time_range": kg_time_range,
        "kg_hybrid_search": kg_hybrid_search,
        "kg_nodes": kg_nodes,
        "kg_edges": kg_edges,
        "kg_graph_impact": kg_graph_impact,
        "kg_pagerank": kg_pagerank,
        "kg_smart_context": kg_smart_context,
        "kg_call_chains": kg_call_chains,
        "kg_reconcile_incremental": kg_reconcile_incremental,
    }


def oracle_sql() -> dict[str, str]:
    sqls: dict[str, str] = {}

    sqls["pricing_summary"] = """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 4) AS sum_qty,
               round(sum(l_extendedprice), 4) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
               round(avg(l_quantity), 6) AS avg_qty,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """

    sqls["top_customers"] = """
        SELECT c_custkey, c_name,
               round(sum(o_totalprice), 4) AS total_spent,
               count(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_custkey, c_name
        ORDER BY total_spent DESC, c_custkey
        LIMIT 10
    """

    # fixed-size chunker: size 200 / step 170; windows text[start:start+200],
    # last chunk = remainder; num_chunks closed form mirrors the loop.
    sqls["chunk_fixed"] = """
        WITH d AS (
            SELECT doc_id, text, length(text) AS n,
                   CASE WHEN length(text) <= 200 THEN 1
                        ELSE (length(text) - 201) // 170 + 2 END AS nc
            FROM documents
            WHERE length(trim(text)) > 0
        )
        SELECT doc_id,
               i AS chunk_index,
               nc AS total_chunks,
               length(substr(text, i * 170 + 1, 200)) AS size,
               substr(text, i * 170 + 1, 200) AS chunk_text,
               sha256(substr(text, i * 170 + 1, 200)) AS content_hash
        FROM d, generate_series(0, 100000) AS g(i)
        WHERE i < nc
    """

    # chunk_smart is a COMMITTED GOLDEN, not an independent DuckDB
    # recomputation: the greedy line-packing kernel (ref
    # indexing/chunker.py:21-126) has no SQL form, so the oracle reads
    # back the expected output generated by the pinned plain-Python
    # kernel (tools/gen_chunk_goldens.py; kernel itself byte-pinned by
    # tests/test_chunker.py). The join on (doc_id, md5(text)) against
    # the live documents view selects the rows for the active scale —
    # the testdata scales reuse doc_ids with different content — and
    # proves the distributed Arrow-UDF plan reproduces the kernel on
    # exactly the driver's input. DISTINCT guards a cross-scale
    # (doc_id, text) collision from double-matching; within one scale
    # rows are unique (chunk_index is per-doc unique).
    sqls["chunk_smart"] = """
        SELECT DISTINCT g.doc_id, g.chunk_index, g.total_chunks,
               g.size, g.line_start, g.line_end, g.content_hash
        FROM read_parquet('/root/repo/data/goldens/chunk_smart/*.parquet') g
        JOIN documents d
          ON g.doc_id = d.doc_id AND g.doc_text_hash = md5(d.text)
    """

    sqls["dedup_exact"] = f"""
        WITH corpus AS ({_CORPUS_SQL})
        SELECT md5(text) AS content_hash,
               count(*) AS n_docs,
               min(doc_id) AS keep_id
        FROM corpus
        GROUP BY md5(text)
        HAVING count(*) >= 2
        ORDER BY keep_id
    """

    _SHINGLES = f"""
        corpus AS ({_CORPUS_SQL}),
        toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                               x -> x <> '') AS t
            FROM corpus
        ),
        shingles0 AS (
            SELECT DISTINCT doc_id,
                   CASE WHEN len(t) >= 3
                        THEN array_to_string(t[i:i+2], ' ')
                        ELSE array_to_string(t, ' ') END AS shingle
            FROM toks, generate_series(1, 100000) AS g(i)
            WHERE i <= greatest(len(t) - 2, 1)
        ),
        -- empty/whitespace-only docs must contribute NO shingles
        -- (kernel.hashes.word_shingles parity), not one '' shingle
        shingles AS (SELECT * FROM shingles0 WHERE shingle <> '')
    """

    sqls["jaccard_pairs"] = f"""
        WITH {_SHINGLES},
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
            FROM shingles a JOIN shingles b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b,
               round(n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter), 6) AS jac
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter) >= 0.3
    """

    # the guarded path's oracle re-implements the max_df=64 frequency
    # cut, so the comparison stays a full value oracle even when the
    # stop-shingle guard binds
    sqls["jaccard_pairs_guarded"] = f"""
        WITH {_SHINGLES},
        kept AS (
            SELECT s.doc_id, s.shingle
            FROM shingles s
            JOIN (SELECT shingle FROM shingles
                  GROUP BY shingle HAVING count(*) <= 64) f
              USING (shingle)
        ),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
            FROM kept a JOIN kept b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b,
               round(n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter), 6) AS jac
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter) >= 0.3
    """

    sqls["ngram_dup_spans"] = f"""
        WITH corpus AS ({_CORPUS_SQL}),
        toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                               x -> x <> '') AS t
            FROM corpus
        ),
        spans AS (
            SELECT DISTINCT doc_id,
                   CASE WHEN len(t) >= 10
                        THEN array_to_string(t[i:i+9], ' ')
                        ELSE array_to_string(t, ' ') END AS shingle
            FROM toks, generate_series(1, 100000) AS g(i)
            WHERE i <= greatest(len(t) - 9, 1)
              AND (CASE WHEN len(t) >= 10
                        THEN array_to_string(t[i:i+9], ' ')
                        ELSE array_to_string(t, ' ') END) <> ''
        )
        SELECT md5(shingle) AS span_hash,
               count(DISTINCT doc_id) AS n_docs,
               min(doc_id) AS keep_id
        FROM spans GROUP BY md5(shingle)
        HAVING count(DISTINCT doc_id) >= 2
    """

    _MINHASH_50 = """
        toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                               x -> x <> '') AS t
            FROM documents WHERE doc_id < 50
        ),
        shingles AS (
            SELECT DISTINCT doc_id,
                   CASE WHEN len(t) >= 3
                        THEN array_to_string(t[i:i+2], ' ')
                        ELSE array_to_string(t, ' ') END AS shingle
            FROM toks, generate_series(1, 100000) AS g(i)
            WHERE i <= greatest(len(t) - 2, 1)
              AND (CASE WHEN len(t) >= 3
                        THEN array_to_string(t[i:i+2], ' ')
                        ELSE array_to_string(t, ' ') END) <> ''
        ),
        mh AS (
            SELECT doc_id, seed,
                   min(md5(seed::VARCHAR || '|' || shingle)) AS minhash
            FROM shingles, generate_series(0, 15) AS s(seed)
            GROUP BY doc_id, seed
        )
    """
    sqls["minhash_signatures"] = f"""
        WITH {_MINHASH_50}
        SELECT doc_id, seed, minhash FROM mh
    """

    sqls["minhash_lsh_pairs"] = f"""
        WITH {_SHINGLES},
        mh AS (
            SELECT doc_id, seed,
                   min(md5(seed::VARCHAR || '|' || shingle)) AS minhash
            FROM shingles, generate_series(0, 15) AS s(seed)
            GROUP BY doc_id, seed
        ),
        bands AS (
            SELECT doc_id, seed // 2 AS band,
                   md5(string_agg(minhash, '|' ORDER BY seed)) AS band_key
            FROM mh GROUP BY doc_id, seed // 2
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               count(*) AS n_bands_shared
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    """

    # dedup_resolution: the minhash_lsh_pairs pair set -> 4 unrolled
    # rounds of min-label propagation. It checks the Spark star loop
    # (operators.dedup.dedup_resolution) wherever every cluster's
    # diameter is <= 4, which holds at all three testdata scales.
    _prop = ["l0 AS (SELECT DISTINCT u, u AS lbl FROM dedup_edges)"]
    for _r in range(1, 5):
        _prop.append(f"""
        l{_r} AS (
            SELECT l.u,
                   least(l.lbl, coalesce(min(n.lbl), l.lbl)) AS lbl
            FROM l{_r - 1} l
            LEFT JOIN dedup_edges e ON e.u = l.u
            LEFT JOIN l{_r - 1} n ON n.u = e.v
            GROUP BY l.u, l.lbl
        )""")
    sqls["dedup_resolution"] = f"""
        WITH {_SHINGLES},
        mh AS (
            SELECT doc_id, seed,
                   min(md5(seed::VARCHAR || '|' || shingle)) AS minhash
            FROM shingles, generate_series(0, 15) AS s(seed)
            GROUP BY doc_id, seed
        ),
        bands AS (
            SELECT doc_id, seed // 2 AS band,
                   md5(string_agg(minhash, '|' ORDER BY seed)) AS band_key
            FROM mh GROUP BY doc_id, seed // 2
        ),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        dedup_edges AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION ALL
            SELECT id_b AS u, id_a AS v FROM pairs
        ),
        {",".join(_prop)}
        SELECT u AS doc_id, lbl AS keep_id, (u = lbl) AS is_canonical
        FROM l4
    """

    sqls["simhash"] = """
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(
                       string_split_regex(lower(trim(text)), '\\s+'),
                       x -> x <> '')) AS tok
            FROM documents WHERE doc_id < 50
        ),
        votes AS (
            SELECT doc_id, bit_pos,
                   sum(CASE WHEN ascii(substr(md5(tok), bit_pos, 1)) % 2 = 1
                            THEN 1 ELSE -1 END) AS s
            FROM toks, generate_series(1, 16) AS g(bit_pos)
            GROUP BY doc_id, bit_pos
        )
        SELECT doc_id, bit_pos,
               CASE WHEN s > 0 THEN 1 ELSE 0 END AS bit
        FROM votes
    """

    # dsir_weights: hashed-bigram importance weights; integer counts,
    # one ln per bucket rounded to micro-nats (each factor cast to
    # DOUBLE before the multiply — int64 products overflow at real
    # corpus scale), exact integer per-doc sum / 1e6, short raw docs
    # (no bigrams) kept with their natural logw = 0 via a left join —
    # mirrors dsir_logweights arithmetic step for step.
    sqls["dsir_weights"] = """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(trim(text)),
                                                  '\\s+'),
                               x -> x <> '') AS l
            FROM documents
        ),
        idx AS (
            SELECT doc_id, l,
                   unnest(generate_series(1, len(l) - 1)) AS i
            FROM toks
        ),
        bg AS (
            SELECT doc_id,
                   substr(md5(l[i] || ' ' || l[i+1]), 1, 3) AS b
            FROM idx
        ),
        rawb AS (SELECT doc_id, b FROM bg WHERE doc_id % 10 <> 0),
        tgtc AS (SELECT b, count(*)::BIGINT AS ct
                 FROM bg WHERE doc_id % 10 = 0 GROUP BY b),
        rawc AS (SELECT b, count(*)::BIGINT AS cr FROM rawb GROUP BY b),
        nt AS (SELECT count(*)::BIGINT AS n
               FROM bg WHERE doc_id % 10 = 0),
        nr AS (SELECT count(*)::BIGINT AS n FROM rawb),
        lr AS (
            SELECT r.b,
                   floor(ln(((coalesce(t.ct, 0) + 1)::DOUBLE
                             * (nr.n + 4096)::DOUBLE)
                            / ((r.cr + 1)::DOUBLE
                               * (nt.n + 4096)::DOUBLE))
                         * 1000000.0 + 0.5)::BIGINT AS lr_micro
            FROM rawc r LEFT JOIN tgtc t USING (b), nt, nr
        ),
        scored AS (
            SELECT rawb.doc_id, count(*)::BIGINT AS n_bigrams,
                   sum(lr_micro)::BIGINT AS micro
            FROM rawb JOIN lr USING (b)
            GROUP BY rawb.doc_id
        )
        SELECT d.doc_id,
               coalesce(s.n_bigrams, 0)::BIGINT AS n_bigrams,
               coalesce(s.micro, 0)::DOUBLE / 1000000.0 AS logw
        FROM documents d LEFT JOIN scored s USING (doc_id)
        WHERE d.doc_id % 10 <> 0
        ORDER BY d.doc_id
    """

    # cooccur_pmi: sliding-window collocations; pair stream mirrored
    # via nested generate_series, canonical least/greatest order, PMI
    # as one micro-nat-rounded ln of an all-double ratio (the
    # dsir/tfidf cross-engine discipline), ties broken on (a, b).
    sqls["cooccur_pmi"] = """
        WITH toks AS (
            SELECT list_filter(string_split_regex(lower(trim(text)),
                                                  '\\s+'),
                               x -> x <> '') AS l
            FROM documents
        ),
        pos AS (
            SELECT l, unnest(generate_series(1, len(l))) AS i
            FROM toks
        ),
        pr AS (
            SELECT l, i,
                   unnest(generate_series(i + 1,
                                          least(i + 3, len(l)))) AS j
            FROM pos
        ),
        pairs AS (
            SELECT least(l[i], l[j]) AS a, greatest(l[i], l[j]) AS b
            FROM pr WHERE l[i] <> l[j]
        ),
        pc AS (SELECT a, b, count(*)::BIGINT AS c_ab
               FROM pairs GROUP BY a, b),
        uni AS (
            SELECT tok, count(*)::BIGINT AS c
            FROM (SELECT a AS tok FROM pairs
                  UNION ALL SELECT b AS tok FROM pairs)
            GROUP BY tok
        ),
        tot AS (SELECT count(*)::BIGINT AS p_total FROM pairs)
        SELECT pc.a, pc.b, pc.c_ab,
               floor(ln((4.0 * p_total::DOUBLE * c_ab::DOUBLE)
                        / (ua.c::DOUBLE * ub.c::DOUBLE))
                     * 1000000.0 + 0.5) / 1000000.0 AS pmi
        FROM pc
        JOIN uni ua ON ua.tok = pc.a
        JOIN uni ub ON ub.tok = pc.b, tot
        WHERE c_ab >= 5
        ORDER BY pmi DESC, pc.a, pc.b
        LIMIT 50
    """

    # simhash_pairs: same parity-vote scheme as simhash but 64 bits
    # (positions 33-64 read the seeded md5(tok || '|2') — a hex digest
    # has only 32 chars), band key = order-free weighted bit sum per
    # 16-bit band (2^i exact in doubles), candidate bucket join, exact
    # rescore bit by bit (Spark rescores on the packed band keys).
    sqls["simhash_pairs"] = """
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(
                       string_split_regex(lower(trim(text)), '\\s+'),
                       x -> x <> '')) AS tok
            FROM documents
        ),
        bits AS (
            SELECT doc_id AS id, bit_pos,
                   CASE WHEN sum(CASE WHEN ascii(substr(
                                     CASE WHEN bit_pos <= 32
                                          THEN md5(tok)
                                          ELSE md5(tok || '|2') END,
                                     CASE WHEN bit_pos <= 32
                                          THEN bit_pos
                                          ELSE bit_pos - 32 END,
                                     1)) % 2 = 1
                                 THEN 1 ELSE -1 END) > 0
                        THEN 1 ELSE 0 END AS bit
            FROM toks, generate_series(1, 64) AS g(bit_pos)
            GROUP BY doc_id, bit_pos
        ),
        keyed AS (
            SELECT id, ((bit_pos - 1) // 16) AS band,
                   sum(bit * (2.0 ** ((bit_pos - 1) % 16)))::BIGINT AS bkey
            FROM bits GROUP BY id, ((bit_pos - 1) // 16)
        ),
        cand AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM keyed a
            JOIN keyed b ON a.band = b.band AND a.bkey = b.bkey
                        AND a.id < b.id
        ),
        ham AS (
            SELECT c.id_a, c.id_b,
                   sum(abs(x.bit - y.bit))::INT AS hamming
            FROM cand c
            JOIN bits x ON x.id = c.id_a
            JOIN bits y ON y.id = c.id_b AND y.bit_pos = x.bit_pos
            GROUP BY c.id_a, c.id_b
        )
        SELECT id_a, id_b, hamming FROM ham
        WHERE hamming <= 3
        ORDER BY id_a, id_b
    """

    sqls["embedding_dup_pairs"] = """
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.embedding::DOUBLE[],
                                            b.embedding::DOUBLE[]), 4) AS sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                           b.embedding::DOUBLE[]), 4) >= 0.35
    """

    sqls["embedding_dup_pairs_lsh"] = f"""
        WITH corpus AS ({_EMB_CORPUS_SQL})
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.embedding,
                                            b.embedding), 4) AS sim
        FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.embedding,
                                           b.embedding), 4) >= 0.9
    """

    # ann_lsh IS oracle-checkable: the hyperplane weights are md5-derived
    # ±1 literals (inlined below), the projection is a LEFT FOLD in both
    # engines (Spark F.aggregate ≡ DuckDB list_reduce — identical IEEE
    # op order, so the sign bits and buckets agree bit-for-bit), probes
    # are the bucket plus its 8 one-bit flips, and sims rank rounded.
    from code_indexer_spark.operators.similarity import (
        N_PLANES, _hyperplane_weights)

    _w = _hyperplane_weights(N_PLANES, 64)
    _w_rows = ",\n            ".join(
        "({}, [{}])".format(p, ",".join(f"{x:.1f}" for x in _w[p]))
        for p in range(N_PLANES))
    sqls["ann_lsh"] = f"""
        WITH w(p, wv) AS (VALUES
            {_w_rows}),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        proj AS (
            SELECT e.vec_id, w.p,
                   list_reduce(
                       list_prepend(0.0::DOUBLE,
                           list_transform(range(64),
                                          i -> e.v[i + 1] * w.wv[i + 1])),
                       (a, b) -> a + b) AS pr
            FROM e, w
        ),
        bucket AS (
            SELECT vec_id,
                   sum(CASE WHEN pr > 0 THEN 1 ELSE 0 END
                       * (1 << (7 - p)))::BIGINT AS bucket
            FROM proj GROUP BY vec_id
        ),
        probes AS (
            SELECT b.vec_id AS query_id,
                   unnest([b.bucket]
                          || list_transform(range(8),
                                            i -> xor(b.bucket,
                                                     (1 << i)::BIGINT)))
                       AS pb
            FROM bucket b WHERE b.vec_id < 5
        )
        SELECT p.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY p.query_id
                   ORDER BY round(list_cosine_similarity(
                                q.embedding::DOUBLE[],
                                c.embedding::DOUBLE[]), 4) DESC,
                            c.vec_id) AS rank,
               round(list_cosine_similarity(q.embedding::DOUBLE[],
                                            c.embedding::DOUBLE[]), 4) AS sim
        FROM probes p
        JOIN bucket cb ON cb.bucket = p.pb
        JOIN embeddings c ON c.vec_id = cb.vec_id
        JOIN embeddings q ON q.vec_id = p.query_id
        QUALIFY rank <= 10
    """

    # ann_ivf oracle: md5-ordered centroid sample (portable), rounded-sim
    # argmax assignment + probes (so a last-ulp cosine difference cannot
    # flip list membership), rounded-sim final rank — all reproducible
    sqls["ann_ivf"] = """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cent AS (
            SELECT row_number() OVER (
                       ORDER BY md5(vec_id::VARCHAR), vec_id) AS centroid_id,
                   v AS cv
            FROM e ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16
        ),
        assigned AS (
            SELECT e.vec_id, cent.centroid_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(e.v, cent.cv),
                                      4) DESC,
                                cent.centroid_id) AS r
            FROM e, cent QUALIFY r = 1
        ),
        probed AS (
            SELECT q.vec_id AS query_id, cent.centroid_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_cosine_similarity(q.v, cent.cv),
                                      4) DESC,
                                cent.centroid_id) AS r
            FROM e q, cent WHERE q.vec_id < 5 QUALIFY r <= 4
        )
        SELECT p.query_id, a.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY p.query_id
                   ORDER BY round(list_cosine_similarity(q.v, ev.v),
                                  4) DESC, a.vec_id) AS rank,
               round(list_cosine_similarity(q.v, ev.v), 4) AS sim
        FROM probed p
        JOIN assigned a ON a.centroid_id = p.centroid_id
        JOIN e ev ON ev.vec_id = a.vec_id
        JOIN e q ON q.vec_id = p.query_id
        QUALIFY rank <= 10
    """

    # ann_recall oracle: the full recall report composed from the SAME
    # proven blocks — lsh buckets (left-fold bit parity), ivf
    # (md5-sampled centroids, rounded-sim assignment), brute force —
    # over the raw queries (recall@10) and the rational-perturbation
    # planted queries (self-recall@1)
    def _ann_query_blocks(p: str, k: int) -> str:
        return f"""
        {p}proj AS (
            SELECT q.query_id, w.p AS p,
                   list_reduce(list_prepend(0.0::DOUBLE,
                       list_transform(range(64),
                                      i -> q.qv[i + 1] * w.wv[i + 1])),
                       (a, b) -> a + b) AS pr
            FROM {p} q, w),
        {p}bucket AS (
            SELECT query_id,
                   sum(CASE WHEN pr > 0 THEN 1 ELSE 0 END
                       * (1 << (7 - p)))::BIGINT AS bucket
            FROM {p}proj GROUP BY query_id),
        {p}probes AS (
            SELECT query_id,
                   unnest([bucket] || list_transform(range(8),
                       i -> xor(bucket, (1 << i)::BIGINT))) AS pb
            FROM {p}bucket),
        {p}lsh AS (
            SELECT pr.query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY pr.query_id
                       ORDER BY round(list_cosine_similarity(q.qv, c.v),
                                      4) DESC, c.vec_id) AS rank
            FROM {p}probes pr
            JOIN ebucket cb ON cb.bucket = pr.pb
            JOIN e c ON c.vec_id = cb.vec_id
            JOIN {p} q ON q.query_id = pr.query_id
            QUALIFY rank <= {k}),
        {p}iprobe AS (
            SELECT q.query_id, cent.centroid_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round(list_cosine_similarity(q.qv, cent.cv),
                                      4) DESC, cent.centroid_id) AS r
            FROM {p} q, cent QUALIFY r <= 4),
        {p}ivf AS (
            SELECT ip.query_id, a.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY ip.query_id
                       ORDER BY round(list_cosine_similarity(q.qv, ev.v),
                                      4) DESC, a.vec_id) AS rank
            FROM {p}iprobe ip
            JOIN assigned a ON a.centroid_id = ip.centroid_id
            JOIN e ev ON ev.vec_id = a.vec_id
            JOIN {p} q ON q.query_id = ip.query_id
            QUALIFY rank <= {k})"""

    sqls["ann_recall"] = f"""
        WITH w(p, wv) AS (VALUES
            {_w_rows}),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        eproj AS (
            SELECT e.vec_id, w.p,
                   list_reduce(list_prepend(0.0::DOUBLE,
                       list_transform(range(64),
                                      i -> e.v[i + 1] * w.wv[i + 1])),
                       (a, b) -> a + b) AS pr
            FROM e, w),
        ebucket AS (
            SELECT vec_id,
                   sum(CASE WHEN pr > 0 THEN 1 ELSE 0 END
                       * (1 << (7 - p)))::BIGINT AS bucket
            FROM eproj GROUP BY vec_id),
        cent AS (
            SELECT row_number() OVER (
                       ORDER BY md5(vec_id::VARCHAR), vec_id) AS centroid_id,
                   v AS cv
            FROM e ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16),
        assigned AS (
            SELECT e.vec_id, cent.centroid_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(e.v, cent.cv),
                                      4) DESC, cent.centroid_id) AS r
            FROM e, cent QUALIFY r = 1),
        qraw AS (SELECT vec_id AS query_id, v AS qv
                 FROM e WHERE vec_id < 20),
        qpl AS (
            SELECT vec_id AS query_id,
                   list_transform(range(64),
                       i -> v[i + 1] * (1.0 + 0.1
                            * ((((vec_id + i) % 7) - 3) / 3.0))) AS qv
            FROM e WHERE vec_id < 20),
        {_ann_query_blocks('qraw', 10)},
        {_ann_query_blocks('qpl', 1)},
        bf AS (
            SELECT q.query_id, e2.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round(list_cosine_similarity(q.qv, e2.v),
                                      4) DESC, e2.vec_id) AS rank
            FROM qraw q, e e2 QUALIFY rank <= 10),
        stats AS (SELECT count(DISTINCT query_id) AS n_queries,
                         count(*) AS n_exact FROM bf),
        lsh_hits AS (
            SELECT count(*) AS n FROM bf
            JOIN qrawlsh l ON l.query_id = bf.query_id
                          AND l.neighbor_id = bf.neighbor_id),
        ivf_hits AS (
            SELECT count(*) AS n FROM bf
            JOIN qrawivf v ON v.query_id = bf.query_id
                          AND v.neighbor_id = bf.neighbor_id),
        lsh_self AS (SELECT count(*) AS n FROM qpllsh
                     WHERE rank = 1 AND neighbor_id = query_id),
        ivf_self AS (SELECT count(*) AS n FROM qplivf
                     WHERE rank = 1 AND neighbor_id = query_id)
        SELECT 'lsh_multiprobe' AS variant, s.n_queries,
               round(lh.n::DOUBLE / s.n_exact, 4) AS recall_at_k,
               round(ls.n::DOUBLE / s.n_queries, 4)
                   AS planted_self_recall_at_1
        FROM stats s, lsh_hits lh, lsh_self ls
        UNION ALL
        SELECT 'ivf_probe4', s.n_queries,
               round(ih.n::DOUBLE / s.n_exact, 4),
               round(sf.n::DOUBLE / s.n_queries, 4)
        FROM stats s, ivf_hits ih, ivf_self sf
        ORDER BY variant
    """

    # rank by the ROUNDED sim (as the Spark side does): two candidates
    # whose sims tie at 4 decimals must order by neighbor_id on both
    # engines, not by last-ulp noise in the unrounded cosines
    sqls["ann_topk"] = """
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_cosine_similarity(
                                q.embedding::DOUBLE[],
                                e.embedding::DOUBLE[]), 4) DESC,
                            e.vec_id) AS rank,
               round(list_cosine_similarity(q.embedding::DOUBLE[],
                                            e.embedding::DOUBLE[]), 4) AS sim
        FROM embeddings q, embeddings e
        WHERE q.vec_id < 5
        QUALIFY rank <= 10
    """

    sqls["rrf_fusion"] = """
        WITH a AS (
            SELECT doc_id, 'chars' AS provider,
                   row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rank
            FROM documents QUALIFY rank <= 50
        ),
        b AS (
            SELECT doc_id, 'hash' AS provider,
                   row_number() OVER (ORDER BY md5(text) DESC, doc_id) AS rank
            FROM documents QUALIFY rank <= 50
        ),
        u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
        SELECT doc_id,
               round(sum(1.0 / (60 + rank)), 6) AS rrf_score,
               count(DISTINCT provider) AS n_providers,
               string_agg(DISTINCT provider, ',' ORDER BY provider) AS providers
        FROM u GROUP BY doc_id
        ORDER BY rrf_score DESC, doc_id
    """

    sqls["score_gate"] = f"""
        WITH s AS ({_SCORED_SQL}),
        m AS (SELECT max(score_a) AS max_a, max(score_b) AS max_b FROM s),
        g AS (
            SELECT doc_id,
                   CASE WHEN max_a < max_b * 0.80
                             AND score_a < max_b * 0.70
                        THEN NULL ELSE round(score_a, 6) END AS score_a,
                   CASE WHEN max_b < max_a * 0.80
                             AND score_b < max_a * 0.70
                        THEN NULL ELSE round(score_b, 6) END AS score_b
            FROM s, m
        )
        SELECT doc_id, score_a, score_b FROM g
        WHERE score_a IS NOT NULL OR score_b IS NOT NULL
    """

    sqls["fuse_multiply"] = f"""
        WITH s AS ({_SCORED_SQL}),
        pool AS (
            SELECT min(v) AS mn, max(v) AS mx FROM (
                SELECT score_a AS v FROM s UNION ALL SELECT score_b FROM s)
        )
        SELECT doc_id,
               round(
                 coalesce(CASE WHEN mx > mn THEN (score_a - mn)/(mx - mn)
                               ELSE 0.5 END, 0.5)
               * coalesce(CASE WHEN mx > mn THEN (score_b - mn)/(mx - mn)
                               ELSE 0.5 END, 0.5), 6) AS fused
        FROM s, pool
    """

    sqls["fuse_average"] = f"""
        WITH s AS ({_SCORED_SQL}),
        pool AS (
            SELECT min(v) AS mn, max(v) AS mx FROM (
                SELECT score_a AS v FROM s UNION ALL SELECT score_b FROM s)
        )
        SELECT doc_id,
               round(CASE
                 WHEN score_a IS NOT NULL AND score_b IS NOT NULL THEN
                   ((CASE WHEN mx > mn THEN (score_a - mn)/(mx - mn) ELSE 0.5 END)
                  + (CASE WHEN mx > mn THEN (score_b - mn)/(mx - mn) ELSE 0.5 END)) / 2.0
                 WHEN score_a IS NOT NULL THEN
                   ((CASE WHEN mx > mn THEN (score_a - mn)/(mx - mn) ELSE 0.5 END) + 0.5) / 2.0
                 ELSE
                   ((CASE WHEN mx > mn THEN (score_b - mn)/(mx - mn) ELSE 0.5 END) + 0.5) / 2.0
               END, 6) AS fused
        FROM s, pool
    """

    sqls["provider_parallel"] = """
        WITH pa AS (
            SELECT doc_id, 'primary' AS provider,
                   row_number() OVER (
                       ORDER BY n_chars / 1000.0 DESC, doc_id) AS rank
            FROM documents QUALIFY rank <= 40
        ),
        pb AS (
            SELECT doc_id, 'secondary' AS provider,
                   row_number() OVER (
                       ORDER BY ((doc_id * 37 + 11) % 100) / 100.0 DESC,
                                doc_id) AS rank
            FROM documents QUALIFY rank <= 40
        ),
        u AS (SELECT * FROM pa UNION ALL SELECT * FROM pb)
        SELECT doc_id,
               round(sum(1.0 / (60 + rank)), 6) AS rrf_score,
               count(DISTINCT provider) AS n_providers,
               string_agg(DISTINCT provider, ',' ORDER BY provider)
                   AS providers
        FROM u GROUP BY doc_id
        ORDER BY rrf_score DESC, doc_id LIMIT 20
    """

    sqls["best_event_per_user"] = """
        SELECT user_id, event_id, event_type, round(value, 4) AS value
        FROM events
        QUALIFY row_number() OVER (
            PARTITION BY user_id ORDER BY value DESC, event_id) = 1
    """

    sqls["multi_index_merge"] = """
        WITH u AS (
            SELECT * FROM events WHERE event_id % 2 = 0
            UNION ALL
            SELECT * FROM events WHERE event_id % 2 = 1
        )
        SELECT user_id, event_type, event_id, round(value, 4) AS value
        FROM u
        QUALIFY row_number() OVER (
            PARTITION BY user_id, event_type
            ORDER BY value DESC, event_id) = 1
    """

    sqls["shard_merge_topk"] = """
        SELECT event_id, user_id, round(value, 4) AS value
        FROM events
        ORDER BY value DESC, event_id
        LIMIT 100
    """

    sqls["rerank_funnel"] = """
        WITH cand AS (
            SELECT * FROM events ORDER BY value DESC, event_id LIMIT 50
        )
        SELECT event_id, user_id, round(value, 4) AS value
        FROM cand ORDER BY ts DESC, event_id LIMIT 10
    """

    sqls["reconcile"] = """
        WITH indexed AS (
            SELECT doc_id, md5(text) AS h_idx FROM documents WHERE doc_id % 3 != 0
        ),
        current AS (
            SELECT doc_id, md5(text) AS h_cur FROM documents WHERE doc_id % 7 != 0
        )
        SELECT coalesce(i.doc_id, c.doc_id) AS doc_id,
               CASE WHEN i.h_idx IS NULL THEN 'added'
                    WHEN c.h_cur IS NULL THEN 'deleted'
                    WHEN i.h_idx = c.h_cur THEN 'same'
                    ELSE 'changed' END AS status
        FROM indexed i FULL OUTER JOIN current c ON i.doc_id = c.doc_id
        WHERE CASE WHEN i.h_idx IS NULL THEN 'added'
                   WHEN c.h_cur IS NULL THEN 'deleted'
                   WHEN i.h_idx = c.h_cur THEN 'same'
                   ELSE 'changed' END != 'same'
    """

    sqls["deleted_detection"] = """
        SELECT doc_id, source FROM documents
        WHERE doc_id % 7 = 0
        ORDER BY doc_id
    """

    sqls["filter_nested"] = """
        SELECT event_id, user_id, event_type, round(value, 4) AS value
        FROM events
        WHERE value >= 5.0 AND value < 50.0
          AND event_type IN ('click', 'view', 'error')
          AND (event_type = 'error' OR contains(lower(props), '9'))
          AND NOT user_id = 13
    """

    sqls["glob_filter"] = """
        SELECT doc_id, source FROM documents
        WHERE regexp_matches(source, '^src1[^/]*$')
          AND contains(lower(text), 'spark')
        ORDER BY doc_id
    """

    sqls["time_range_latest"] = """
        SELECT user_id, event_id, event_type
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-15'
        QUALIFY row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id) = 1
    """

    sqls["session_windows"] = """
        WITH g AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        s AS (
            SELECT user_id, event_id,
                   (sum(new_sess) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING))::BIGINT AS session_no
            FROM g
        )
        SELECT user_id, session_no, count(*) AS n_events,
               min(event_id) AS first_event
        FROM s GROUP BY user_id, session_no
        ORDER BY user_id, session_no
    """

    sqls["session_windows_native"] = """
        WITH g AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        s AS (
            SELECT user_id, event_id, ts,
                   (sum(new_sess) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING))::BIGINT AS session_no
            FROM g
        )
        SELECT user_id, min(ts) AS session_start,
               count(*) AS n_events, min(event_id) AS first_event
        FROM s GROUP BY user_id, session_no
        ORDER BY user_id, session_start
    """

    sqls["tumbling_window"] = """
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               count(*) AS n, round(sum(value), 4) AS sum_value
        FROM events
        GROUP BY 1, 2 ORDER BY 1, 2
    """

    sqls["commit_agg"] = """
        SELECT user_id,
               md5(string_agg(event_id::VARCHAR || ':' || event_type,
                              chr(10) ORDER BY event_id::VARCHAR || ':' || event_type))
                   AS doc_hash,
               count(*) AS n_events
        FROM events GROUP BY user_id
    """

    _TOKS = """
        toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                               x -> x <> '') AS t,
                   text
            FROM documents
        )
    """
    _EN = "['the','and','of','to','a','in','that','is','with','for','on','as','at','by','while','across']"
    _DE = "['der','die','das','und','nicht','mit','ist','von','zu','den','im','ein','eine','auf']"
    _FR = "['le','la','les','et','de','des','un','une','est','dans','que','pour','sur','avec']"

    sqls["langid"] = f"""
        WITH {_TOKS},
        r AS (
            SELECT doc_id,
                round(len(list_filter(t, x -> list_contains({_EN}, x)))::DOUBLE
                      / greatest(len(t), 1), 6) AS en_ratio,
                round(len(list_filter(t, x -> list_contains({_DE}, x)))::DOUBLE
                      / greatest(len(t), 1), 6) AS de_ratio,
                round(len(list_filter(t, x -> list_contains({_FR}, x)))::DOUBLE
                      / greatest(len(t), 1), 6) AS fr_ratio
            FROM toks
        )
        SELECT doc_id, en_ratio, de_ratio, fr_ratio,
               CASE WHEN greatest(en_ratio, de_ratio, fr_ratio) <= 0 THEN 'und'
                    WHEN en_ratio = greatest(en_ratio, de_ratio, fr_ratio) THEN 'en'
                    WHEN de_ratio = greatest(en_ratio, de_ratio, fr_ratio) THEN 'de'
                    ELSE 'fr' END AS lang_guess
        FROM r
    """

    sqls["repetition_signals"] = f"""
        WITH {_TOKS},
        base AS (
            SELECT doc_id, t,
                   list_filter(list_transform(string_split(text, chr(10)),
                                              x -> trim(x)),
                               x -> x <> '') AS lines,
                   CASE WHEN len(t) >= 2
                        THEN list_transform(range(0, len(t) - 1),
                                            i -> t[i + 1] || ' ' || t[i + 2])
                        ELSE [] END AS grams
            FROM toks
        ),
        narrow AS (
            SELECT doc_id,
                   len(t) AS n_toks,
                   len(lines) AS n_lines,
                   round((len(lines) - len(list_distinct(lines)))::DOUBLE
                         / greatest(len(lines), 1), 6) AS dup_line_frac,
                   round((len(grams) - len(list_distinct(grams)))::DOUBLE
                         / greatest(len(grams), 1), 6) AS dup_2gram_frac
            FROM base
        ),
        tok_counts AS (
            SELECT doc_id, tok, count(*) AS c
            FROM (SELECT doc_id, unnest(t) AS tok FROM base)
            GROUP BY doc_id, tok
        ),
        top AS (SELECT doc_id, max(c) AS topc FROM tok_counts GROUP BY doc_id)
        SELECT n.doc_id, n.n_lines, n.dup_line_frac, n.dup_2gram_frac,
               round(coalesce(top.topc, 0)::DOUBLE
                     / greatest(n.n_toks, 1), 6) AS top_token_frac
        FROM narrow n LEFT JOIN top USING (doc_id)
    """

    sqls["quality_score"] = f"""
        WITH {_TOKS},
        m AS (
            SELECT doc_id,
                   length(text) AS n_chars,
                   len(t) AS n_tokens,
                   round(length(text)::DOUBLE / greatest(len(t), 1), 6)
                       AS mean_token_len,
                   round(len(list_filter(t, x -> list_contains({_EN}, x)))::DOUBLE
                         / greatest(len(t), 1), 6) AS stopword_ratio,
                   round(length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))::DOUBLE
                         / greatest(length(text), 1), 6) AS alnum_ratio
            FROM toks
        )
        SELECT doc_id, n_chars, n_tokens, mean_token_len, stopword_ratio,
               alnum_ratio,
               floor((least(n_tokens / 50.0, 1.0) * 0.4
                      + least(stopword_ratio * 4.0, 1.0) * 0.3
                      + alnum_ratio * 0.3) * 1000000.0 + 0.5) / 1000000.0
                   AS quality
        FROM m
    """

    sqls["token_counts"] = """
        SELECT doc_id,
               len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                               x -> x <> '')) AS n_ws_tokens,
               len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                               x -> x <> '')) AS n_alnum_tokens,
               len(list_distinct(list_filter(
                   string_split_regex(lower(trim(text)), '\\s+'),
                   x -> x <> ''))) AS n_distinct_tokens
        FROM documents
    """

    sqls["scrub_pii"] = r"""
        WITH w AS (
            SELECT doc_id,
                   text || ' contact a' || doc_id::VARCHAR
                   || '@example.com see https://example.com/p/'
                   || doc_id::VARCHAR || ' ref 123456789'
                   || doc_id::VARCHAR AS t
            FROM documents
        )
        SELECT doc_id,
               md5(regexp_replace(regexp_replace(regexp_replace(t,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
                   'https?://[^\s]+', '<URL>', 'g'),
                   '[0-9]{9,}', '<NUM>', 'g')) AS scrub_hash,
               len(string_split(regexp_replace(replace(t, chr(1), ''),
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   chr(1), 'g'), chr(1))) - 1 AS n_emails,
               len(string_split(regexp_replace(replace(t, chr(1), ''),
                   'https?://[^\s]+', chr(1), 'g'), chr(1))) - 1 AS n_urls,
               len(string_split(regexp_replace(replace(t, chr(1), ''),
                   '[0-9]{9,}', chr(1), 'g'), chr(1))) - 1 AS n_longnums
        FROM w
    """

    sqls["corpus_mix"] = """
        WITH h AS (
            SELECT doc_id, lang,
                   ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS hv
            FROM documents
        )
        SELECT doc_id, lang FROM h
        WHERE (lang = 'en' AND hv < 2147483648)
           OR (lang = 'de' AND hv < 4294967296)
           OR (lang = 'fr' AND hv < 1073741824)
        ORDER BY doc_id
    """

    # per-source cap by content-keyed md5 rank — identical arithmetic
    # on both engines: coalesce-to-'' mirrors the Spark side (DuckDB's
    # || nulls the whole key on NULL input while concat_ws skips it).
    # The oracle keeps the ONE-window form; Spark's salted two-phase
    # top-k is row-identical by construction (operators/textstats.py).
    sqls["domain_cap"] = """
        WITH ranked AS (
            SELECT source AS grp, doc_id AS key,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5(coalesce(source, '') || '|'
                                    || coalesce(doc_id::VARCHAR, '')),
                                doc_id) AS rk
            FROM documents
        )
        SELECT grp, key, rk FROM ranked WHERE rk <= 10
        ORDER BY grp, key
    """

    # BM25 (Lucene IDF) over documents, query ['spark','join','query'].
    # Float constants are embedded via repr() of the SAME Python
    # arithmetic the Spark operator performs (k1+1 etc.), so both
    # engines evaluate bit-identical doubles before the 1e-6 rounding.
    _k1, _b = 1.2, 0.75
    sqls["bm25"] = f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                               x -> x <> '') AS t
            FROM documents
        ),
        posting AS (
            SELECT doc_id, term
            FROM toks, unnest(t) AS u(term)
            WHERE term IN ('spark', 'join', 'query')
        ),
        tf AS (SELECT doc_id, term, count(*) AS tf
               FROM posting GROUP BY doc_id, term),
        dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        dl AS (SELECT doc_id, len(t) AS dl FROM toks),
        stats AS (SELECT count(*) AS n_docs, sum(len(t)) AS sum_dl
                  FROM toks),
        scored AS (
            SELECT tf.doc_id,
                   ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                   * (tf * {_k1 + 1!r})
                   / (tf + {_k1!r} * ({1 - _b!r} + {_b!r} * dl
                                      / (sum_dl / n_docs))) AS ts
            FROM tf
            JOIN dft USING (term)
            JOIN dl ON tf.doc_id = dl.doc_id, stats
        )
        SELECT doc_id, round(sum(ts), 6) AS score,
               row_number() OVER (ORDER BY round(sum(ts), 6) DESC,
                                  doc_id) AS rank
        FROM scored
        GROUP BY doc_id
        ORDER BY score DESC, doc_id
        LIMIT 10
    """

    # 5-gram shingles over the dup-seeded corpus, test split by
    # doc_id % 29 — the exact recurrence of operators.dedup.decontaminate
    sqls["decontaminate"] = f"""
        WITH corpus AS ({_CORPUS_SQL}),
        toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                               x -> x <> '') AS t
            FROM corpus
        ),
        sh0 AS (
            SELECT DISTINCT doc_id,
                   CASE WHEN len(t) >= 5
                        THEN array_to_string(t[i:i+4], ' ')
                        ELSE array_to_string(t, ' ') END AS shingle
            FROM toks, generate_series(1, 100000) AS g(i)
            WHERE i <= greatest(len(t) - 4, 1)
        ),
        sh AS (SELECT * FROM sh0 WHERE shingle <> ''),
        te AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 29 = 0),
        tr AS (SELECT * FROM sh WHERE doc_id % 29 <> 0)
        SELECT tr.doc_id AS train_id,
               count(*) AS n_shared,
               min(tr.shingle) AS first_shingle
        FROM tr JOIN te USING (shingle)
        GROUP BY tr.doc_id
        ORDER BY train_id
    """

    # regex-for-regex twin of functions.columns.canonical_url over the
    # synthesized messy-URL corpus ('g' flag: DuckDB replaces first
    # match by default, Spark replaces all)
    _URL_CANON_SQL = f"""
        u AS ({_URL_DOCS_SQL}),
        s1 AS (SELECT doc_id, url,
                      regexp_replace(url, '#.*$', '') AS c FROM u),
        s2 AS (SELECT *, regexp_extract(
                   c, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*') AS pfx
               FROM s1),
        s3 AS (SELECT doc_id, url,
                      CASE WHEN lower(pfx) LIKE 'http://%'
                           THEN regexp_replace(lower(pfx), ':80$', '')
                           WHEN lower(pfx) LIKE 'https://%'
                           THEN regexp_replace(lower(pfx), ':443$', '')
                           ELSE lower(pfx) END AS p,
                      substr(c, length(pfx) + 1) AS rest
               FROM s2),
        -- tracker strips run on the QUERY only (from the FIRST '?';
        -- later '?' are value bytes) with ^-anchored first-param
        -- passes: single-match by construction, so Spark's
        -- replace-all vs DuckDB's default-first-match can't diverge
        s3b AS (SELECT doc_id, url, p,
                       regexp_extract(rest, '^[^?]*') AS pth,
                       substr(rest,
                              length(regexp_extract(rest, '^[^?]*')) + 1)
                       AS qry
                FROM s3),
        s4 AS (SELECT doc_id, url, p, pth,
                      regexp_replace(regexp_replace(regexp_replace(qry,
                          '&(utm_[a-z]+|fbclid|gclid)=[^&#]*', '', 'g'),
                          '^\\?(utm_[a-z]+|fbclid|gclid)=[^&#]*&', '?'),
                          '^\\?(utm_[a-z]+|fbclid|gclid)=[^&#]*$', '')
                      AS q1
               FROM s3b),
        s5 AS (SELECT doc_id, url, p,
                      regexp_replace(pth, '/$', '') || q1 AS r2
               FROM s4),
        canon AS (SELECT doc_id, url, p || r2 AS canonical_url FROM s5)
    """

    sqls["url_canonicalize"] = f"""
        WITH {_URL_CANON_SQL}
        SELECT doc_id, url, canonical_url FROM canon ORDER BY doc_id
    """

    sqls["url_dupes"] = f"""
        WITH {_URL_CANON_SQL}
        SELECT canonical_url, count(*) AS n_docs, min(doc_id) AS keep_id
        FROM canon
        GROUP BY canonical_url
        HAVING count(*) >= 2
        ORDER BY canonical_url
    """

    # snapshot lifecycle: versions and file counts are CONSTANTS by
    # construction (8-way repartition commit; unbounded-target compaction
    # = 1 file; keep_last=1 expiry removes exactly v1) — the only
    # data-dependent value is the row count, identical before/after
    # compaction because compaction is a pure layout rewrite.
    # ::BIGINT everywhere: the Spark side returns longs.
    sqls["snapshot_stats"] = """
        WITH n AS (SELECT count(*)::BIGINT AS c FROM documents)
        SELECT 'before' AS stage, 1::BIGINT AS version,
               8::BIGINT AS n_files, c AS n_rows FROM n
        UNION ALL
        SELECT 'after', 2::BIGINT, 1::BIGINT, c FROM n
        UNION ALL
        SELECT 'expired', 1::BIGINT, 0::BIGINT, 0::BIGINT
        ORDER BY stage
    """

    # image_dims: the oracle mirrors the SYNTHESIS arithmetic (the
    # fixture-byte generation is a pure function of doc_id); the Spark
    # side must recover exactly these values from the actual bytes via
    # the header parsers, so any byte-level parse drift fails here.
    sqls["image_dims"] = """
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN NULL
                    ELSE (1 + doc_id % 16)::INT END AS width,
               CASE WHEN doc_id % 5 = 0 THEN NULL
                    ELSE (1 + doc_id % 9)::INT END AS height,
               CASE WHEN doc_id % 5 = 0 THEN NULL
                    WHEN doc_id % 2 = 0 THEN (1 + doc_id % 4)::INT
                    WHEN doc_id % 7 = 0 THEN 1
                    ELSE 3 END AS components,
               CASE WHEN doc_id % 5 = 0 THEN NULL
                    ELSE 8 END::INT AS bit_depth,
               CASE WHEN doc_id % 5 = 0 THEN NULL
                    WHEN doc_id % 2 = 0 THEN FALSE
                    ELSE doc_id % 3 = 0 END AS progressive,
               CASE WHEN doc_id % 5 = 0
                    THEN 'ValueError: unrecognized image magic'
                    END AS decode_error
        FROM documents
        ORDER BY doc_id
    """

    sqls["tfidf_top_terms"] = """
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(
                       string_split_regex(lower(trim(text)), '\\s+'),
                       x -> x <> '')) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM toks GROUP BY doc_id, term
        ),
        dft AS (
            SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term
        ),
        n AS (SELECT count(DISTINCT doc_id) AS n FROM documents)
        SELECT doc_id, term,
               floor(tf * ln(n::DOUBLE / df) * 1000000.0 + 0.5) / 1000000.0
                   AS score,
               row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY floor(tf * ln(n::DOUBLE / df) * 1000000.0 + 0.5)
                            / 1000000.0 DESC,
                            term) AS rank
        FROM tf JOIN dft USING (term), n
        QUALIFY rank <= 3
    """

    sqls["top_tokens"] = """
        SELECT tok AS token, count(*) AS n
        FROM (
            SELECT unnest(list_filter(
                string_split_regex(lower(trim(text)), '\\s+'),
                x -> x <> '')) AS tok
            FROM documents)
        GROUP BY tok ORDER BY n DESC, token LIMIT 50
    """

    sqls["fingerprints"] = """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                               x -> x <> '') AS t
            FROM documents
        ),
        shingles AS (
            SELECT DISTINCT doc_id,
                   CASE WHEN len(t) >= 3
                        THEN array_to_string(t[i:i+2], ' ')
                        ELSE array_to_string(t, ' ') END AS shingle
            FROM toks, generate_series(1, 100000) AS g(i)
            WHERE i <= greatest(len(t) - 2, 1)
              AND (CASE WHEN len(t) >= 3
                        THEN array_to_string(t[i:i+2], ' ')
                        ELSE array_to_string(t, ' ') END) <> ''
        ),
        d AS (SELECT doc_id, md5(shingle) AS dg FROM shingles)
        SELECT doc_id,
               array_to_string(list_sort(list(dg))[1:4], '|') AS fingerprint
        FROM d GROUP BY doc_id
    """

    sqls["snippets"] = """
        SELECT doc_id, strpos(text, 'spark') AS pos,
               substr(text, greatest(strpos(text, 'spark') - 30, 1), 65)
                   AS snippet
        FROM documents
        WHERE strpos(text, 'spark') > 0
    """

    sqls["rrf_multi_shard"] = """
        WITH ranked AS (
            SELECT event_id AS doc_id,
                   'shard' || (user_id % 3)::VARCHAR AS provider,
                   row_number() OVER (
                       PARTITION BY 'shard' || (user_id % 3)::VARCHAR
                       ORDER BY value DESC, event_id) AS rank
            FROM events QUALIFY rank <= 100
        )
        SELECT doc_id AS event_id,
               round(sum(1.0 / (60 + rank)), 6) AS rrf_score,
               count(DISTINCT provider) AS n_providers,
               string_agg(DISTINCT provider, ',' ORDER BY provider) AS providers
        FROM ranked GROUP BY doc_id
        ORDER BY rrf_score DESC, doc_id
    """

    sqls["scroll_points"] = """
        SELECT doc_id, md5(text) AS payload_hash
        FROM documents ORDER BY doc_id LIMIT 50 OFFSET 100
    """

    sqls["point_get"] = """
        SELECT doc_id, source, lang, md5(text) AS payload_hash
        FROM documents WHERE doc_id IN (7, 42, 123)
    """

    sqls["unique_counts"] = """
        SELECT lang, count(DISTINCT source) AS n_sources,
               count(*) AS n_docs
        FROM documents GROUP BY lang ORDER BY lang
    """

    sqls["language_expand"] = """
        WITH d AS (
            SELECT doc_id,
                   ['py', 'pyw', 'js', 'go'][(doc_id % 4) + 1] AS ext
            FROM documents
        )
        SELECT doc_id, ext FROM d
        WHERE ext IN ('py', 'pyw', 'pyi')
        ORDER BY doc_id
    """

    sqls["merge_upsert"] = """
        WITH source AS (
            SELECT doc_id, md5(text || '#' || 'v2') AS payload
            FROM documents WHERE doc_id % 5 = 0
            UNION ALL
            SELECT doc_id + 200000 AS doc_id, md5(text || '#' || 'new') AS payload
            FROM documents WHERE doc_id % 25 = 0
        )
        SELECT doc_id, md5(text) AS payload FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM source)
        UNION ALL
        SELECT doc_id, payload FROM source
    """

    sqls["merge_clean_orphans"] = """
        WITH target AS (
            SELECT doc_id, i AS chunk_index,
                   md5(doc_id::VARCHAR || '#' || i::VARCHAR) AS h
            FROM documents, generate_series(0, 2) AS g(i)
        ),
        source AS (
            SELECT doc_id, 0 AS chunk_index,
                   md5(doc_id::VARCHAR || '#' || 're') AS h
            FROM documents WHERE doc_id % 5 = 0
        )
        SELECT t.doc_id, t.chunk_index, t.h FROM target t
        WHERE t.doc_id NOT IN (SELECT doc_id FROM source)
        UNION ALL
        SELECT doc_id, chunk_index, h FROM source
    """

    sqls["incremental_scan"] = """
        SELECT event_id, user_id, event_type, round(value, 4) AS value
        FROM events WHERE ts > TIMESTAMP '2024-01-20'
    """

    sqls["identifiers"] = """
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(text), '\\s+'),
                               x -> x <> '') AS ids
            FROM documents
        )
        SELECT doc_id, len(ids) AS n_identifiers,
               array_to_string(ids, ' ') AS identifiers_joined
        FROM t
    """

    sqls["markdown_images"] = r"""
        WITH md AS (
            SELECT doc_id,
                   '![a](assets/' || doc_id::VARCHAR
                   || '.png) see ![b](https://cdn.example.com/x.jpg) and ![c](/img/'
                   || source || '.webp) ' || text AS m
            FROM documents
        ),
        r AS (
            SELECT doc_id,
                   list_filter(
                       list_transform(
                           regexp_extract_all(m, '!\[[^\]]*\]\(([^)]+)\)', 1),
                           x -> regexp_replace(trim(x), '^(\./|/)+', '')),
                       x -> x <> '' AND NOT (starts_with(x, 'http://')
                                 OR starts_with(x, 'https://'))) AS refs
            FROM md
        )
        SELECT doc_id, len(refs) AS n_images,
               array_to_string(refs, ',') AS images_joined
        FROM r
    """

    sqls["norm_surface"] = """
        SELECT doc_id,
               trim(regexp_replace(lower(substr(text, 1, 100)),
                                   '[^a-z0-9]+', ' ', 'g')) AS norm
        FROM documents
    """

    sqls["graph_deps"] = """
        WITH li AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        SELECT DISTINCT a.l_suppkey AS suppkey, b.l_suppkey AS co_suppkey
        FROM li a JOIN li b ON a.l_partkey = b.l_partkey
        WHERE a.l_suppkey % 50 = 0 AND a.l_suppkey != b.l_suppkey
        ORDER BY suppkey, co_suppkey
    """

    sqls["graph_impact"] = """
        WITH li AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        edges AS (
            SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
            FROM li a JOIN li b ON a.l_partkey = b.l_partkey
            WHERE a.l_suppkey != b.l_suppkey
        ),
        d1 AS (SELECT DISTINCT dst FROM edges WHERE src = 0),
        d2 AS (
            SELECT DISTINCT e.dst FROM d1 f JOIN edges e ON f.dst = e.src
            WHERE e.dst != 0 AND e.dst NOT IN (SELECT dst FROM d1)
        )
        SELECT dst, 1 AS dist FROM d1
        UNION ALL
        SELECT dst, 2 AS dist FROM d2
        ORDER BY dist, dst
    """

    _PR_STEP = """
        SELECT n.node,
               round(0.15 + 0.85 * coalesce(sum(p.pr / od.outdeg), 0.0), 8)
                   AS pr
        FROM nodes n
        LEFT JOIN edges e ON e.dst = n.node
        LEFT JOIN {prev} p ON p.node = e.src
        LEFT JOIN outdeg od ON od.src = e.src
        GROUP BY n.node
    """
    sqls["pagerank"] = f"""
        WITH li AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        edges AS (
            SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
            FROM li a JOIN li b ON a.l_partkey = b.l_partkey
            WHERE a.l_suppkey != b.l_suppkey
        ),
        nodes AS (
            SELECT src AS node FROM edges
            UNION SELECT dst FROM edges
        ),
        outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
        pr0 AS (SELECT node, 1.0 AS pr FROM nodes),
        pr1 AS ({_PR_STEP.format(prev="pr0")}),
        pr2 AS ({_PR_STEP.format(prev="pr1")}),
        pr3 AS ({_PR_STEP.format(prev="pr2")})
        SELECT node, pr FROM pr3
        ORDER BY pr DESC, node LIMIT 100
    """

    sqls["smart_context"] = """
        WITH target_parts AS (
            SELECT DISTINCT l_partkey FROM lineitem WHERE l_suppkey = 0
        ),
        scored AS (
            SELECT l_partkey AS file, 's0' AS symbol, 1.0 AS score
            FROM target_parts
            UNION ALL
            SELECT DISTINCT li.l_partkey AS file,
                   's' || li.l_suppkey::VARCHAR AS symbol, 0.7 AS score
            FROM lineitem li JOIN target_parts t ON li.l_partkey = t.l_partkey
            WHERE li.l_suppkey != 0
            UNION ALL
            SELECT DISTINCT li.l_partkey AS file,
                   'o' || li.l_orderkey::VARCHAR AS symbol, 0.6 AS score
            FROM lineitem li JOIN target_parts t ON li.l_partkey = t.l_partkey
        ),
        per_symbol AS (
            SELECT file, symbol, max(score) AS score
            FROM scored GROUP BY file, symbol
        ),
        per_file AS (
            SELECT file, round(avg(score), 6) AS relevance_score,
                   count(*) AS n_symbols
            FROM per_symbol GROUP BY file
        )
        SELECT file, relevance_score, n_symbols,
               row_number() OVER (
                   ORDER BY relevance_score DESC, file) AS read_priority
        FROM per_file
        ORDER BY relevance_score DESC, file LIMIT 20
    """

    sqls["call_chains"] = """
        SELECT c_custkey,
               c_name || ' > ' || n_name || ' > ' || r_name AS path,
               3 AS depth
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE c_custkey < 100
        ORDER BY c_custkey
    """

    return sqls
