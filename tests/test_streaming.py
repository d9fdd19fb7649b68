"""Structured Streaming: availableNow drain must produce exactly the
batch pipeline's triples; checkpointed restart must not duplicate."""

import glob
import os
import shutil

import pyarrow.parquet as pq
import pytest


@pytest.fixture()
def pages_stream_dir(kg_small, tmp_path):
    """Split the sf_small pages into 4 files (4 micro-batches)."""
    src = pq.read_table(f"{kg_small}/pages.parquet")
    d = str(tmp_path / "pages_stream")
    os.makedirs(d)
    n = src.num_rows
    step = (n + 3) // 4
    for i in range(4):
        pq.write_table(src.slice(i * step, step), f"{d}/part-{i:03d}.parquet")
    return d


def test_stream_triples_equals_batch(spark, kg_small, pages_stream_dir,
                                     tmp_path):
    from code_indexer_spark.operators.triples import broadcast_alias_rows
    from code_indexer_spark.plans.pipeline import build_raw_triples, read_alias
    from code_indexer_spark.streaming.watch import (
        read_pages_stream, run_available_now, stream_triples)

    alias_bc = broadcast_alias_rows(spark, read_alias(spark, kg_small))
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = stream_triples(
        read_pages_stream(spark, pages_stream_dir, max_files_per_trigger=1),
        alias_bc)
    run_available_now(stream, out, ckpt)

    got = {tuple(r) for r in spark.read.parquet(out)
           .select("subj", "pred", "obj", "src_url").collect()}
    expect = {tuple(r) for r in build_raw_triples(spark, kg_small)
              .select("subj", "pred", "obj", "src_url").collect()}
    assert got == expect

    # restart with same checkpoint: nothing new -> no duplicates
    stream2 = stream_triples(
        read_pages_stream(spark, pages_stream_dir, max_files_per_trigger=1),
        alias_bc)
    run_available_now(stream2, out, ckpt)
    assert spark.read.parquet(out).count() == len(expect)


def test_stream_chunks_equal_fused_batch(spark, pages_stream_dir, tmp_path):
    """Streamed chunks carry the batch table's embedding and vbucket:
    the stream runs build_chunks_fused, not a staged chain without
    them."""
    from code_indexer_spark.operators.extract import build_chunks_fused
    from code_indexer_spark.streaming.watch import (
        PAGES_SCHEMA, read_pages_stream, run_available_now, stream_chunks)

    out = str(tmp_path / "chunks_out")
    run_available_now(
        stream_chunks(read_pages_stream(spark, pages_stream_dir,
                                        max_files_per_trigger=1)),
        out, str(tmp_path / "chunks_ck"))

    def rows(df):
        return sorted((r.point_id, tuple(r.embedding), r.vbucket)
                      for r in df.select("point_id", "embedding",
                                         "vbucket").collect())

    got = rows(spark.read.parquet(out))
    expect = rows(build_chunks_fused(
        spark.read.schema(PAGES_SCHEMA).parquet(pages_stream_dir)))
    assert len(expect) > 1000
    assert got == expect


def test_stream_new_file_incremental(spark, kg_small, pages_stream_dir,
                                     tmp_path):
    """New file after a drain -> only its rows are appended (S10/K4
    incremental semantics)."""
    from code_indexer_spark.operators.triples import broadcast_alias_rows
    from code_indexer_spark.plans.pipeline import read_alias
    from code_indexer_spark.streaming.watch import (
        read_pages_stream, run_available_now, stream_triples)

    alias_bc = broadcast_alias_rows(spark, read_alias(spark, kg_small))
    out = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")

    first = sorted(glob.glob(f"{pages_stream_dir}/*.parquet"))
    held_back = first[-1]
    staging = str(tmp_path / "held.parquet")
    shutil.move(held_back, staging)

    run_available_now(stream_triples(read_pages_stream(
        spark, pages_stream_dir), alias_bc), out, ckpt)
    n1 = spark.read.parquet(out).count()

    shutil.move(staging, held_back)
    run_available_now(stream_triples(read_pages_stream(
        spark, pages_stream_dir), alias_bc), out, ckpt)
    n2 = spark.read.parquet(out).count()
    assert n2 > n1  # the held-back file's triples arrived exactly once


def test_windowed_rates_watermark(spark, kg_small, pages_stream_dir,
                                  tmp_path):
    from code_indexer_spark.streaming.watch import (
        read_pages_stream, windowed_page_rates)

    agg = windowed_page_rates(
        read_pages_stream(spark, pages_stream_dir))
    out = str(tmp_path / "rates")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "rck"))
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()
    rows = spark.read.parquet(out).collect()
    # pages are 137 s apart -> each 30 s window holds <= 1 page per lang
    assert rows and all(r["n_pages"] == 1 for r in rows)


def test_stateful_site_counts(spark, kg_small, pages_stream_dir, tmp_path):
    """applyInPandasWithState: per-site running counts accumulate across
    micro-batches; final totals equal the batch groupBy."""
    import pyspark.sql.functions as F

    from code_indexer_spark.streaming.watch import (
        read_pages_stream, stateful_site_counts)

    counts = stateful_site_counts(
        read_pages_stream(spark, pages_stream_dir, max_files_per_trigger=1))
    q = (
        counts.writeStream.format("memory")
        .queryName("site_counts")
        .option("checkpointLocation", str(tmp_path / "sck"))
        .trigger(availableNow=True)
        .outputMode("update")
        .start()
    )
    q.awaitTermination()
    # update mode emits one row per (site, batch); the LAST row per site
    # carries the running total -> must equal the batch count
    got = (
        spark.table("site_counts")
        .groupBy("site")
        .agg(F.max("n_pages_total").alias("n"),
             F.max("n_batches").alias("nb"))
    )
    expect = (
        spark.read.parquet(f"{kg_small}/pages.parquet")
        .withColumn("site", F.regexp_extract("url", r"https?://([^/]+)", 1))
        .groupBy("site").agg(F.count(F.lit(1)).alias("n"))
    )
    j = got.join(expect.withColumnRenamed("n", "n_expect"), "site").collect()
    assert j and all(r.n == r.n_expect for r in j)
    # ran as 4 micro-batches -> sites seen in >1 batch carried state
    assert any(r.n_batches > 1 for r in
               spark.table("site_counts").select("n_batches").collect())


def test_merge_sink_snapshots(spark, kg_small, pages_stream_dir, tmp_path):
    """foreachBatch MERGE sink: per-micro-batch snapshot commits; the
    final snapshot equals the batch pipeline's triples exactly; replay
    of the drained source (fresh checkpoint, same table) is idempotent
    (content-addressed triple_id MERGE keys)."""
    import pyspark.sql.functions as F

    from code_indexer_spark.operators.triples import broadcast_alias_rows
    from code_indexer_spark.plans.pipeline import build_raw_triples, read_alias
    from code_indexer_spark.sources.tables import (
        read_snapshot, snapshot_versions)
    from code_indexer_spark.streaming.watch import (
        read_pages_stream, run_merge_sink, stream_triples)

    alias_bc = broadcast_alias_rows(spark, read_alias(spark, kg_small))
    table = str(tmp_path / "triples_tbl")

    stream = stream_triples(
        read_pages_stream(spark, pages_stream_dir, max_files_per_trigger=1),
        alias_bc)
    run_merge_sink(stream, table, ["triple_id"], str(tmp_path / "ck1"))

    versions = snapshot_versions(table)
    assert len(versions) >= 2  # one commit per micro-batch

    batch = build_raw_triples(spark, kg_small)
    want = {r.triple_id for r in batch.select("triple_id").distinct().collect()}
    got = {r.triple_id for r in read_snapshot(spark, table)
           .select("triple_id").collect()}
    assert got == want
    # early snapshots are strict subsets (time travel shows growth)
    first = {r.triple_id for r in
             read_snapshot(spark, table, version=versions[0])
             .select("triple_id").collect()}
    assert first < got

    # replay with a FRESH checkpoint (simulated reprocess): merge on
    # triple_id keeps the table exactly deduplicated
    stream2 = stream_triples(
        read_pages_stream(spark, pages_stream_dir, max_files_per_trigger=2),
        alias_bc)
    run_merge_sink(stream2, table, ["triple_id"], str(tmp_path / "ck2"))
    again = read_snapshot(spark, table)
    assert again.count() == again.select("triple_id").distinct().count()
    assert {r.triple_id for r in again.select("triple_id").collect()} == want


def test_stateful_site_counts_all_null_timestamps(spark, tmp_path):
    """A micro-batch whose warc_ts values are ALL null must not crash
    the stateful operator (pandas max() yields NaT, not None) nor
    regress the state: counts advance, last_warc_ts stays null."""
    import pyspark.sql.functions as F

    from code_indexer_spark.streaming.watch import (
        PAGES_SCHEMA, read_pages_stream, stateful_site_counts)

    rows = [("https://nullts.example/a", None, None, "t1", "en"),
            ("https://nullts.example/b", None, None, "t2", "en"),
            ("https://nullts.example", None, None, "t3", "en")]
    src = str(tmp_path / "null_ts_pages")
    spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1) \
        .write.parquet(src)
    counts = stateful_site_counts(read_pages_stream(spark, src))
    q = (
        counts.writeStream.format("memory").queryName("null_ts_counts")
        .option("checkpointLocation", str(tmp_path / "nck"))
        .trigger(availableNow=True).outputMode("update").start()
    )
    q.awaitTermination()
    got = spark.table("null_ts_counts").collect()
    # host-only url (no path) groups under its host, not under ''
    assert {r.site for r in got} == {"nullts.example"}
    assert sum(r.n_pages_total for r in got) >= 3
    assert all(r.last_warc_ts is None for r in got)


def test_merge_sink_recovers_from_torn_first_snapshot(
        spark, kg_small, pages_stream_dir, tmp_path):
    """Crash between the first snapshot's dir write and the _VERSION
    pointer flip: on replay the sink must treat the table as empty
    (the pointer IS the commit), not crash reading a pointer that was
    never written."""
    import os

    import pyspark.sql.functions as F

    from code_indexer_spark.streaming.watch import (
        read_pages_stream, run_merge_sink, stream_chunks)
    from code_indexer_spark.sources.tables import read_snapshot

    table_dir = str(tmp_path / "torn_table")
    # simulate the torn write: a half-written v=1 dir, no _VERSION
    os.makedirs(os.path.join(table_dir, "v=1"))
    spark.createDataFrame([("junk",)], ["partial"]).coalesce(1) \
        .write.mode("overwrite").parquet(os.path.join(table_dir, "v=1"))

    chunks = stream_chunks(read_pages_stream(spark, pages_stream_dir))
    run_merge_sink(chunks, table_dir, ["point_id"],
                   str(tmp_path / "torn_ck"))
    final = read_snapshot(spark, table_dir)
    assert "partial" not in final.columns
    assert final.count() > 0
    # committed rows are the real chunk rows, unique per key
    assert final.select("point_id").distinct().count() == final.count()


def test_merge_sink_first_batch_dedupes_keys(spark, tmp_path):
    """A FIRST micro-batch that legitimately carries the same key twice
    must not commit duplicate-key rows into snapshot v=1: the sink
    applies merge_upsert's per-key source reduction (distinct +
    deterministic max-to_json winner) before the raw first write."""
    import pyspark.sql.functions as F  # noqa: F401

    from code_indexer_spark.sources.tables import read_snapshot
    from code_indexer_spark.streaming.watch import run_merge_sink

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("k1", "payload-a"), ("k1", "payload-b"), ("k2", "only")],
        "key string, val string").coalesce(1).write.parquet(src)
    stream = (spark.readStream.schema("key string, val string")
              .parquet(src))
    table = str(tmp_path / "tbl")
    run_merge_sink(stream, table, ["key"], str(tmp_path / "ck"))

    rows = {r.key: r.val for r in read_snapshot(spark, table).collect()}
    snap = read_snapshot(spark, table)
    assert snap.count() == 2  # one row per key, not three
    # deterministic winner: max to_json of the non-key columns
    assert rows == {"k1": "payload-b", "k2": "only"}
