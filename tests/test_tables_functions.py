"""sources.tables MERGE semantics + functions.columns expression tests
(hand-computed tiny inputs, SURVEY.md §5 operator-level style)."""

from __future__ import annotations

import pyspark.sql.functions as F

from code_indexer_spark.functions.columns import (
    identifiers, norm_surface, point_id, rrf_term, snippet, triple_id,
)
from code_indexer_spark.sources.tables import (
    incremental_read, merge_upsert, merge_upsert_clean_orphans,
)


def test_merge_upsert_source_wins(spark):
    target = spark.createDataFrame(
        [(1, "old1"), (2, "old2"), (3, "old3")], ["k", "v"])
    source = spark.createDataFrame(
        [(2, "new2"), (4, "new4")], ["k", "v"])
    got = {(r.k, r.v) for r in merge_upsert(target, source, ["k"]).collect()}
    assert got == {(1, "old1"), (2, "new2"), (3, "old3"), (4, "new4")}


def test_merge_clean_orphans_scoped_delete(spark):
    # doc 10 is re-indexed with ONE chunk (had two -> orphan dropped);
    # doc 20 untouched -> both chunks survive.
    target = spark.createDataFrame(
        [(10, 0, "a"), (10, 1, "b"), (20, 0, "c"), (20, 1, "d")],
        ["doc", "chunk", "v"])
    source = spark.createDataFrame([(10, 0, "a2")], ["doc", "chunk", "v"])
    got = {(r.doc, r.chunk, r.v) for r in merge_upsert_clean_orphans(
        target, source, ["doc"]).collect()}
    assert got == {(10, 0, "a2"), (20, 0, "c"), (20, 1, "d")}


def test_incremental_read_watermark(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-02-01")], ["k", "d"]
    ).withColumn("ts", F.to_timestamp("d"))
    path = str(tmp_path / "t.parquet")
    df.write.parquet(path)
    got = {r.k for r in
           incremental_read(spark, path, "ts", "2024-01-15").collect()}
    assert got == {2}


def test_column_functions_values(spark):
    df = spark.createDataFrame(
        [("https://u/1", "  Hello,  World! x9 ", "abc Hello xyz")],
        ["url", "text", "body"])
    row = df.select(
        F.array_join(identifiers("text"), "|").alias("ids"),
        norm_surface("text").alias("norm"),
        point_id("url", F.lit("h"), F.lit(0)).alias("pid"),
        triple_id(F.lit("s"), F.lit("p"), F.lit("o"), "url").alias("tid"),
        F.round(rrf_term(F.lit(1)), 6).alias("rrf"),
        snippet("body", "Hello", before=2, width=7).alias("snip"),
    ).collect()[0]
    assert row.ids == "Hello,|World!|x9"
    assert row.norm == "hello world x9"
    import hashlib
    assert row.pid == hashlib.md5(b"https://u/1_h_0").hexdigest()
    assert row.tid == hashlib.sha256(b"s|p|o|https://u/1").hexdigest()
    assert row.rrf == round(1.0 / 61, 6)
    # instr('abc Hello xyz','Hello')=5 -> start max(5-2,1)=3 -> 'c Hello'
    assert row.snip == "c Hello"


def test_norm_surface_matches_kernel(spark):
    from code_indexer_spark.kernel.nlp import normalize_surface

    samples = ["Acme Data Corp", "J. Montara", "The  Silent   River!!",
               "café résumé", "a-b_c9", ""]
    df = spark.createDataFrame([(s,) for s in samples], ["s"])
    got = [r.n for r in
           df.select(norm_surface("s").alias("n")).collect()]
    # ascii-only samples must agree exactly with the Python kernel
    for s, g in zip(samples, got):
        if s.isascii():
            assert g == normalize_surface(s), s


def test_snapshot_write_and_time_travel(spark, tmp_path):
    """S7 snapshot commit + time travel: the pointer only ever names a
    complete snapshot; historical versions stay readable."""
    from code_indexer_spark.sources.tables import (
        read_snapshot, snapshot_versions, write_snapshot)

    t = str(tmp_path / "tbl")
    v1 = write_snapshot(spark.createDataFrame(
        [(1, "a"), (2, "b")], ["k", "v"]), t)
    v2 = write_snapshot(spark.createDataFrame(
        [(1, "a2"), (3, "c")], ["k", "v"]), t)
    assert (v1, v2) == (1, 2)
    assert snapshot_versions(t) == [1, 2]
    latest = {(r.k, r.v) for r in read_snapshot(spark, t).collect()}
    assert latest == {(1, "a2"), (3, "c")}
    old = {(r.k, r.v) for r in read_snapshot(spark, t, version=1).collect()}
    assert old == {(1, "a"), (2, "b")}


def test_merge_upsert_intra_source_duplicate_keys(spark):
    """One micro-batch carrying the same key twice (replayed file or a
    page updated twice inside a debounce window) must commit exactly
    one row per key, with a deterministic winner."""
    target = spark.createDataFrame([(1, "old1")], ["k", "v"])
    source = spark.createDataFrame(
        [(1, "newA"), (1, "newB"), (1, "newB"), (2, "x")], ["k", "v"])
    rows = merge_upsert(target, source, ["k"]).collect()
    got = {(r.k, r.v) for r in rows}
    assert len(rows) == 2
    # deterministic winner: max to_json of non-key cols -> "newB"
    assert got == {(1, "newB"), (2, "x")}


def test_reconcile_status_null_hash_presence(spark):
    """Presence comes from side markers, never hash nullness: a
    null-hash indexed row whose key vanished is 'deleted' (not
    'added'), and a both-sides-null-hash key is 'same'."""
    from code_indexer_spark.sources.tables import reconcile_status

    indexed = spark.createDataFrame(
        [("u1", None), ("u2", "h2"), ("u3", None)],
        "k string, h string")
    current = spark.createDataFrame(
        [("u2", "h2x"), ("u3", None), ("u4", "h4")],
        "k string, h string")
    got = {r.k: r.status
           for r in reconcile_status(indexed, current, ["k"]).collect()}
    assert got == {"u1": "deleted", "u2": "changed",
                   "u3": "same", "u4": "added"}


def test_compact_snapshot_preserves_values_reduces_files(spark, tmp_path):
    """Compaction (Iceberg rewrite_data_files analog): many-file
    snapshot -> few-file snapshot as a NEW atomically-committed
    version; values byte-identical, old version retained for time
    travel."""
    import pyspark.sql.functions as F

    from code_indexer_spark.sources.tables import (
        compact_snapshot, read_snapshot, snapshot_file_stats,
        snapshot_versions, write_snapshot)

    table = str(tmp_path / "tbl")
    df = spark.range(1000).withColumn(
        "payload", F.md5(F.col("id").cast("string")))
    write_snapshot(df.repartition(32), table)  # simulate tiny commits
    before = snapshot_file_stats(table)
    assert before["n_files"] == 32

    def value_hash(d):
        return d.select(F.md5(F.concat_ws("|", "id", "payload"))
                        .alias("h")).agg(
            F.expr("bit_xor(xxhash64(h))").alias("x")).collect()[0]["x"]

    h0 = value_hash(read_snapshot(spark, table))
    stats = compact_snapshot(spark, table, target_bytes=1 << 30)
    assert stats["after"]["n_files"] == 1          # all fits one target
    assert value_hash(read_snapshot(spark, table)) == h0
    # old version still readable (time travel), pointer moved on
    vs = snapshot_versions(table)
    assert len(vs) == 2
    assert value_hash(read_snapshot(spark, table, version=vs[0])) == h0


def test_expire_snapshots_keeps_current_and_last_n(spark, tmp_path):
    from code_indexer_spark.sources.tables import (
        expire_snapshots, read_snapshot, snapshot_versions, write_snapshot)

    table = str(tmp_path / "tbl")
    for i in range(5):
        write_snapshot(spark.range(10 + i), table)
    assert snapshot_versions(table) == [1, 2, 3, 4, 5]
    removed = expire_snapshots(table, keep_last=2)
    assert removed == [1, 2, 3]
    assert snapshot_versions(table) == [4, 5]
    assert read_snapshot(spark, table).count() == 14       # pointer = v5
    assert read_snapshot(spark, table, version=4).count() == 13


def test_compact_snapshot_aborts_on_concurrent_commit(spark, tmp_path):
    """A snapshot committed between compaction's base read and its
    pointer flip must NOT be superseded: compaction detects the moved
    pointer, removes its rewrite dir, and reports a conflict."""
    import os

    from code_indexer_spark.sources.tables import (
        read_snapshot, snapshot_versions, write_snapshot)

    table = str(tmp_path / "tbl")
    write_snapshot(spark.range(100), table)

    # deterministically interleave a concurrent commit INSIDE the
    # rewrite window: wrap read_snapshot so the competing writer lands
    # v=2 after compaction resolved base=1 but before its pointer flip
    from code_indexer_spark.sources import tables as T

    real_read = T.read_snapshot

    def read_and_commit(sp, td, version=None):
        df = real_read(sp, td, version=version)
        # a concurrent writer lands v=2 while compaction rewrites
        write_snapshot(spark.range(200), td)
        return df

    T.read_snapshot, orig = read_and_commit, T.read_snapshot
    try:
        stats = T.compact_snapshot(spark, table, target_bytes=1 << 30)
    finally:
        T.read_snapshot = orig
    assert stats["conflict"] is True
    # the concurrent commit survives as the current snapshot
    assert read_snapshot(spark, table).count() == 200
    # no orphan rewrite dir was committed or left behind beyond v=1,v=2
    assert snapshot_versions(table) == [1, 2]
    assert not os.path.exists(os.path.join(table, "v=3"))


def test_expire_snapshots_keep_last_zero(spark, tmp_path):
    from code_indexer_spark.sources.tables import (
        expire_snapshots, snapshot_versions, write_snapshot)

    table = str(tmp_path / "tbl")
    for i in range(3):
        write_snapshot(spark.range(5 + i), table)
    removed = expire_snapshots(table, keep_last=0)
    assert removed == [1, 2]
    assert snapshot_versions(table) == [3]  # only the pointer target
