"""Streaming ingestion — the watch-mode analog (SURVEY.md §2.10).

Reference: watchdog FS events debounced 2.0 s into pending batches
(git_aware_watch_handler.py:22-60, timer :227), incremental HNSW
updates per batch (filesystem_vector_store.py:4040-4224), resume via
watch metadata (services/watch_metadata.py).

Spark mapping:
- source: file-stream over the pages directory (at scale: Iceberg
  incremental snapshot reads / Kafka of WARC records);
- debounce window  -> trigger(processingTime="2 seconds") micro-batches
  (availableNow in tests for a bounded run);
- pending-set accumulation -> the micro-batch itself;
- watch metadata resume -> checkpointLocation (offsets + sink commit log);
- incremental index update -> idempotent append of content-addressed
  rows (triple_id / point_id), so replays after failure dedupe at read
  time exactly like the reference's content-id check.

The SAME batch stages run inside the stream — the fused chunks and
triples stages are narrow Arrow row stages (``util.arrow_rows``), legal
in Structured Streaming — so a stream is built by the batch builders
over the stream frame: ``plans.pipeline.build_raw_triples(spark,
kg_dir, pages=stream)`` and ``build_chunks(spark, kg_dir,
pages=stream)``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType, StringType, StructField, StructType, TimestampType,
)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def read_pages_stream(spark: SparkSession, pages_dir: str,
                      max_files_per_trigger: int = 4) -> DataFrame:
    """File-source stream of page parquet files (one file ≈ one debounced
    batch of changed pages)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )


def run_available_now(stream_df: DataFrame, out_dir: str,
                      checkpoint_dir: str):
    """Drain everything currently available (the test/backfill trigger),
    writing parquet with exactly-once sink semantics via the checkpoint.
    Returns the StreamingQuery after awaiting termination."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()
    return q


def stateful_site_counts(pages_stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-site running page count + last-seen timestamp, carried across
    micro-batches in managed state (GroupState).

    This is the reference's watch-mode pending/accumulated bookkeeping
    (git_aware_watch_handler.py:49-60 pending set; progressive-metadata
    per-branch counters) as a first-class Spark stateful operator —
    state survives restarts through the checkpoint, giving the same
    resume behavior as watch_metadata.py.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState
    from pyspark.sql.types import (
        LongType as _L, StringType as _S, StructField as _F,
        StructType as _T, TimestampType as _TS,
    )

    out_schema = _T([
        _F("site", _S()), _F("n_pages_total", _L()),
        _F("n_batches", _L()), _F("last_warc_ts", _TS()),
    ])
    # last_ts_us lives IN the state (epoch micros): a later micro-batch
    # holding only older timestamps must not regress the last-seen mark
    state_schema = _T([_F("n_pages", _L()), _F("n_batches", _L()),
                       _F("last_ts_us", _L())])

    def update(key, pdfs, state: GroupState):
        n_new = 0
        batch_ts = None
        for pdf in pdfs:
            n_new += len(pdf)
            m = pdf["warc_ts"].max()
            # an all-null batch yields NaT (not None): folding it in
            # would store epoch-min micros and blow up the output
            # Timestamp — treat it as "no timestamp seen this batch"
            if not pd.isna(m):
                batch_ts = m if batch_ts is None else max(batch_ts, m)
        if state.exists:
            n_pages, n_batches, last_us = state.get
        else:
            n_pages, n_batches, last_us = 0, 0, None
        batch_us = (None if batch_ts is None
                    else int(pd.Timestamp(batch_ts).value // 1000))
        if last_us is None:
            last_us = batch_us
        elif batch_us is not None:
            last_us = max(last_us, batch_us)
        n_pages += n_new
        n_batches += 1
        state.update((n_pages, n_batches, last_us))
        yield pd.DataFrame({
            "site": [key[0]], "n_pages_total": [n_pages],
            "n_batches": [n_batches],
            "last_warc_ts": [None if last_us is None
                             else pd.Timestamp(last_us * 1000)],
        })

    import pyspark.sql.functions as F2

    # no trailing '/' in the pattern: host-only urls (https://a.com, a
    # common crawl form) must group under their host, not under ''
    sited = pages_stream.withColumn(
        "site", F2.regexp_extract("url", r"https?://([^/]+)", 1))
    return sited.groupBy("site").applyInPandasWithState(
        update, outputStructType=out_schema, stateStructType=state_schema,
        outputMode="update", timeoutConf="NoTimeout",
    )


def windowed_page_rates(pages_stream: DataFrame) -> DataFrame:
    """Watermarked tumbling-window ingest metrics (the reference's 30 s
    rolling throughput window, vector_calculation_manager.py:229-232,
    plus the 60 s late-data safety buffer from
    progressive_metadata.py:148-168 as the watermark)."""
    return (
        pages_stream.withWatermark("warc_ts", "60 seconds")
        .groupBy(F.window("warc_ts", "30 seconds").alias("w"), "lang")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(F.col("w.start").alias("window_start"), "lang", "n_pages")
    )


def run_merge_sink(stream_df: DataFrame, table_dir: str,
                   key_cols: list[str], checkpoint_dir: str,
                   scope_cols: list[str] | None = None):
    """foreachBatch MERGE sink: every micro-batch upserts into a
    versioned snapshot table (sources.tables.write_snapshot /
    merge_upsert) — the production shape of the reference's incremental
    HNSW update per debounced batch (filesystem_vector_store.py:
    4040-4224): content-addressed keys make replayed batches idempotent,
    and the atomic _VERSION pointer flip is the per-batch finalize.
    Each batch commit = one new readable snapshot; time travel gives
    the index state after any batch.

    Scale note: the parquet stand-in rewrites the merged table per
    batch (O(table) writes); on Iceberg the SAME sink body is one
    MERGE INTO that rewrites only the data files holding matched keys
    (merge-on-read) — the seam is sources/tables, nothing here changes.

    ``scope_cols`` enables orphan cleanup (recommended for
    content-addressed keys like triple_id, with scope_cols=['src_url']):
    the batch fully REPLACES the target rows of every scope group it
    touches (merge_upsert_clean_orphans), so a re-ingested page's stale
    old-content rows are deleted — the reference deletes a re-indexed
    file's old points the same way (:1148-1241). Without it, a changed
    page's old content-keyed rows never collide with the new keys and
    accumulate forever.

    Uses availableNow (drain) semantics; returns the StreamingQuery."""
    import os

    from ..sources.tables import (
        merge_upsert, merge_upsert_clean_orphans, read_snapshot,
        reduce_source, write_snapshot)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # replay guard on the _VERSION pointer, not on v=* dirs: a crash
        # between a snapshot dir write and the pointer flip must replay
        # into "first batch" semantics — v=1 may exist half-written, but
        # only the pointer marks a committed snapshot readers can see
        if os.path.exists(os.path.join(table_dir, "_VERSION")):
            target = read_snapshot(spark, table_dir)
            if scope_cols:
                merged = merge_upsert_clean_orphans(
                    target, batch_df, scope_cols)
            else:
                merged = merge_upsert(target, batch_df, key_cols)
        else:
            # first batch (no committed snapshot yet): apply the same
            # per-key source reduction merge_upsert performs, so a
            # micro-batch carrying one key twice cannot commit
            # duplicate-key rows into snapshot v=1 (scope mode replaces
            # whole groups and needs no per-key reduction, matching the
            # merge path above)
            merged = (batch_df if scope_cols
                      else reduce_source(batch_df, key_cols))
        write_snapshot(merged, table_dir)

    os.makedirs(table_dir, exist_ok=True)
    q = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()
    return q
