"""The KG-construction pipeline: pages -> extract -> (chunks, triples)
-> canonicalize -> nodes/edges.

One declarative DataFrame job per stage; each output's Python kernels
(extract + rules + link, or extract + chunk + embed) run in one fused
Arrow row stage over pages (``util.arrow_rows``, the single batch
boundary every Python pass shares), so page html crosses the Arrow
boundary once per output. The reference's thread-pool lifecycle
(smart_indexer.py:277-640 -> high_throughput_processor.py:262-802) is
replaced by Spark stage parallelism — SURVEY.md §3.1 mapping — plus two
driver threads in run_pipeline: Spark runs one action at a time per
thread, so the chunks write, which needs only pages, is submitted to a
second thread and overlaps the canonical mapping and the triples
chain, and the edges write, which needs only the persisted triples, is
submitted to a third and overlaps the nodes write. Only those write
actions cross threads; all plans are built on the caller's thread.

Partitioning at scale (SURVEY.md §7.1 step 7):
- pages: days(warc_ts) + bucket(url) (Iceberg spec; here the parquet
  layout is the fixture's natural row order, read as the scan plans it);
- chunks: clustered by vbucket (2-bit vector quantization prefix — the
  reference's own vector-space partitioning, vector_quantizer.py:129-155)
  with sortWithinPartitions, not a partition column: no shuffle of the
  widest table, one file per write task, and a vbucket prefix filter
  still prunes row groups through parquet min/max stats;
- edges: salted head-entity key — `salt = pmod(xxhash64(src_url), 16)`
  appended to the subject key so one mega-entity ("hub" aliases) cannot
  pin a whole shuffle partition; AQE skew-join handles the residual.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.canonicalize import apply_canonical, canonical_mapping
from ..operators.extract import build_chunks_fused
from ..operators.triples import (
    broadcast_alias_rows, extract_triples_fused, mentions_fused,
)

EDGE_SALT_BUCKETS = 16


def read_pages(spark: SparkSession, kg_dir: str) -> DataFrame:
    return spark.read.parquet(f"{kg_dir}/pages.parquet")


def read_alias(spark: SparkSession, kg_dir: str) -> DataFrame:
    return spark.read.parquet(f"{kg_dir}/alias_dict.parquet")


def read_entities(spark: SparkSession, kg_dir: str) -> DataFrame:
    return spark.read.parquet(f"{kg_dir}/entities.parquet")


def build_chunks(spark: SparkSession, kg_dir: str,
                 pages: DataFrame | None = None) -> DataFrame:
    """pages -> embedded chunks table (the reference's vector points),
    via the fused one-pass UDF stage."""
    pages = pages if pages is not None else read_pages(spark, kg_dir)
    return build_chunks_fused(pages)


def build_raw_triples(spark: SparkSession, kg_dir: str,
                      pages: DataFrame | None = None) -> DataFrame:
    """html -> raw triples via the fused one-pass UDF stage (see
    operators.triples.extract_triples_fused)."""
    pages = pages if pages is not None else read_pages(spark, kg_dir)
    return extract_triples_fused(pages, _alias_broadcast(spark, kg_dir))


def build_mentions(spark: SparkSession, kg_dir: str) -> DataFrame:
    """html -> linked mentions via the fused one-pass UDF stage."""
    return mentions_fused(read_pages(spark, kg_dir),
                          _alias_broadcast(spark, kg_dir))


# (applicationId, kg_dir) -> the session's KG dimensions, each built
# once: "alias", the alias-dictionary broadcast, and "mapping", the
# canonical mapping (the driver path's LocalRelation, or the Spark
# path's persisted frame) — the reference's per-collection metadata
# cache analog (filesystem_vector_store.py:307-426). One broadcast keeps
# repeat triples/mentions plans sameResult (CacheManager can serve
# them) and each Python worker builds its AliasIndex once. CacheManager
# cannot serve a repeat mapping: canonical_mapping runs its collect
# (and, above SMALL_ENTITIES, the star loop's checkpoint jobs) before
# it returns a plan. applicationId (not id(spark)) so a recycled object
# address can never serve a stopped session's entry. Input reads are
# not memoized here: a file index listed before pages.parquet changes
# would serve stale files to run_incremental.
_SESSION_DIMS: dict[tuple[str, str], dict[str, object]] = {}


def _session_dim(spark: SparkSession, kg_dir: str, name: str, build):
    dims = _SESSION_DIMS.setdefault(
        (spark.sparkContext.applicationId, kg_dir), {})
    if name not in dims:
        dims[name] = build()
    return dims[name]


def _alias_broadcast(spark: SparkSession, kg_dir: str):
    return _session_dim(spark, kg_dir, "alias", lambda: broadcast_alias_rows(
        spark, read_alias(spark, kg_dir)))


def cached_canonical_mapping(spark: SparkSession, kg_dir: str,
                             entities: DataFrame | None = None) -> DataFrame:
    return _session_dim(spark, kg_dir, "mapping", lambda: canonical_mapping(
        entities if entities is not None else read_entities(spark, kg_dir)))


def build_canonical_triples(spark: SparkSession, kg_dir: str,
                            pages: DataFrame | None = None) -> DataFrame:
    """pages -> canonical triples: the one builder of every path (batch,
    checkpointed slices, incremental, the kg_* queries)."""
    raw = build_raw_triples(spark, kg_dir, pages=pages)
    mapping = cached_canonical_mapping(spark, kg_dir)
    return apply_canonical(raw, mapping)


def build_nodes(triples: DataFrame, entities: DataFrame,
                mapping: DataFrame) -> DataFrame:
    """nodes(entity_id, canonical_name, entity_type, n_mentions):
    one row per canonical entity; n_mentions = triple endpoints touching
    it. Canonical metadata comes from the canonical id's own record."""
    mention_counts = (
        triples.select(F.col("subj").alias("entity_id"))
        .union(triples.select(F.col("obj").alias("entity_id")))
        .groupBy("entity_id")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
    )
    canon_ids = mapping.select(
        F.col("canonical_id").alias("entity_id")
    ).distinct()
    return (
        canon_ids.join(entities, "entity_id", "left")
        .join(mention_counts, "entity_id", "left")
        .select(
            "entity_id", "canonical_name", "entity_type",
            F.coalesce("n_mentions", F.lit(0)).alias("n_mentions"),
        )
    )


def build_edges(triples: DataFrame) -> DataFrame:
    """edges(subj, pred, obj, n_sources, confidence, salted_key):
    aggregated multigraph with a salted subject key for head-entity skew
    (north rule). The salt spreads one hot subject over
    EDGE_SALT_BUCKETS shuffle partitions; readers strip it with
    split(salted_key, '#')[0]."""
    return (
        triples.groupBy("subj", "pred", "obj")
        .agg(
            F.countDistinct("src_url").alias("n_sources"),
            F.max("confidence").alias("confidence"),
        )
        .withColumn(
            "salted_key",
            F.concat_ws(
                "#", "subj",
                (F.pmod(F.xxhash64("pred", "obj"), F.lit(EDGE_SALT_BUCKETS))
                 ).cast("string"),
            ),
        )
    )


def run_incremental(
    spark: SparkSession,
    kg_dir: str,
    prior_triples: DataFrame,
    indexed_index: DataFrame,
) -> DataFrame:
    """U4 reconcile wired into the incremental pipeline (VERDICT r1
    item 10; ref smart_indexer.py:1323-1785): compare the indexed
    (url, h) snapshot against current page content, re-extract ONLY the
    added/changed urls, MERGE the fresh triples over the prior table
    with orphan cleanup scoped to the re-processed urls, and drop
    triples of deleted urls.

    Only the work-list pages ever enter the Arrow-UDF extract stage —
    the unchanged majority is never re-parsed (tests/test_resume.py
    proves the processed-page count equals |added| + |changed| via an
    Observation on the UDF input). At 100 TB this is the steady-state
    daily job: work list ~ the crawl delta, not the corpus.

    Orphan cleanup is scoped by the WORK LIST, not by the urls present
    in the fresh output: a changed page that now yields zero triples
    must still lose its stale rows (the reference deletes a re-indexed
    file's old points even when the new parse emits none)."""
    from ..sources.tables import reconcile_status

    pages = read_pages(spark, kg_dir)
    current_index = pages.select("url", F.md5(F.col("html")).alias("h"))
    status = reconcile_status(indexed_index, current_index, ["url"])
    work = status.filter(F.col("status").isin("added", "changed")) \
        .select("url")
    work_pages = pages.join(work, "url")
    fresh = build_canonical_triples(spark, kg_dir, pages=work_pages)
    stale_scope = status.filter(
        F.col("status").isin("added", "changed", "deleted")
    ).select(F.col("url").alias("src_url"))
    kept = prior_triples.join(stale_scope, "src_url", "left_anti")
    return kept.unionByName(fresh)


def run_pipeline(spark: SparkSession, kg_dir: str, out_dir: str) -> dict:
    """Full batch run: materialize chunks, triples, nodes, edges.

    Pages and entities are each read once, and every builder takes
    those frames. The chunks branch needs only pages, so its write runs
    on a pool thread while this thread runs the entity/triples chain
    (mapping -> build_canonical_triples -> triples write). Nodes and
    edges both read only the persisted triples and the mapping, so once
    the triples are written the edges write goes to the pool's second
    thread and this thread writes the nodes. Spark schedules every
    thread's jobs on the same executors, so the chunks stage fills the
    cores that the mapping's small, latency-bound jobs leave idle, and
    the nodes and edges jobs share them. Only the write actions cross
    threads: every plan, including the chunks and edges plans, is built
    here, so callers that wrap the plan builders (tracing spans, the
    mapping cache) stay single-threaded. Each pool write is wrapped in
    inheritable_thread_target so it carries this thread's job group,
    description and tags, and cancelJobsWithTag reaches it. A failed
    chunks or edges write raises from here; if this thread's chain
    fails, the pool writes are awaited first and its error propagates.

    Row counts come from the Observation API (A12 metrics in SURVEY
    §2.6) attached to each write — zero extra scan jobs, the same
    mechanism that would feed lineage metrics on a cluster — instead
    of re-reading all four tables."""
    from concurrent.futures import ThreadPoolExecutor, wait

    from pyspark import inheritable_thread_target
    from pyspark.sql import Observation

    obs = {name: Observation(name) for name in
           ("triples", "nodes", "edges", "chunks")}

    def observed(df, name):
        return df.observe(obs[name], F.count(F.lit(1)).alias("n"))

    pages = read_pages(spark, kg_dir)
    chunks = build_chunks(spark, kg_dir, pages=pages)
    # clustered, not hive-partitioned: each write task sorts its own rows
    # by vbucket and writes one file, so the widest table (text +
    # embedding) is never shuffled, and parquet min/max stats still let a
    # vbucket prefix filter skip row groups; vbucket stays a string
    chunks_writer = observed(chunks.sortWithinPartitions("vbucket"),
                             "chunks").write.mode("overwrite")
    write_chunks = inheritable_thread_target(spark)(
        lambda: chunks_writer.parquet(f"{out_dir}/chunks.parquet"))

    with ThreadPoolExecutor(max_workers=2) as pool:
        chunks_written = pool.submit(write_chunks)

        entities = read_entities(spark, kg_dir)
        mapping = cached_canonical_mapping(spark, kg_dir, entities=entities)
        triples = build_canonical_triples(spark, kg_dir, pages=pages) \
            .persist()
        edges_written = None
        try:
            observed(triples, "triples").write.mode("overwrite").parquet(
                f"{out_dir}/triples.parquet")
            edges_writer = observed(
                build_edges(triples).repartition(F.col("salted_key")),
                "edges").write.mode("overwrite")
            edges_written = pool.submit(inheritable_thread_target(spark)(
                lambda: edges_writer.parquet(f"{out_dir}/edges.parquet")))
            nodes = build_nodes(triples, entities, mapping)
            observed(nodes, "nodes").write.mode("overwrite").parquet(
                f"{out_dir}/nodes.parquet")
            edges_written.result()
            chunks_written.result()
        finally:
            # the edges write reads the persisted triples: unpersisting
            # under it would recompute them from html. The mapping stays
            # — it is the session-scoped cache.
            if edges_written is not None:
                wait([edges_written])
            triples.unpersist()
    return {name: o.get["n"] for name, o in obs.items()}
