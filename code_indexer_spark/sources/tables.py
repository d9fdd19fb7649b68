"""Table layer: parquet-backed stand-in for the Iceberg catalog.

At real scale every function here is one Iceberg statement (MERGE INTO /
incremental snapshot read); the sandbox has no Iceberg runtime jar, so
the same semantics are expressed as DataFrame ops over partitioned
parquet. The public API is what the rest of the engine programs against,
so swapping the backend touches only this module.

Reference parity (SURVEY.md §2.1):
- S2 incremental scan  <- find_modified_files(since_ts)
  (/root/reference/src/code_indexer/indexing/file_finder.py:307-314);
- S3 deleted detection <- find_deleted_files
  (file_finder.py:341-355): reconcile_status' 'deleted' rows;
- S6 upsert sink       <- upsert_points + orphan cleanup
  (storage/filesystem_vector_store.py:1015-1416, orphans :1148-1241):
  MERGE INTO target USING source ON key WHEN MATCHED UPDATE
  WHEN NOT MATCHED INSERT; orphan cleanup = WHEN NOT MATCHED BY SOURCE
  THEN DELETE, scoped to the touched urls;
- S7 finalize          <- end_indexing (filesystem_vector_store.py:602):
  the atomic parquet-directory (Iceberg snapshot) commit IS the finalize.

Scale notes: merge_upsert rewrites only rows whose key collides —
realized here as anti-join + union + overwrite; on Iceberg the engine
rewrites only matching data files (merge-on-read at 100 TB). Both sides
shuffle on the key columns once; AQE handles skewed keys.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def write_table(df: DataFrame, path: str, partition_by: list[str] | None = None,
                mode: str = "overwrite") -> None:
    """Partitioned parquet write (Iceberg table write at scale)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def incremental_read(spark: SparkSession, path: str, ts_col: str,
                     watermark) -> DataFrame:
    """S2: rows newer than the watermark. The predicate is a plain
    comparison on the partition/sort column, so Catalyst turns it into
    partition pruning + row-group skipping (no full scan)."""
    return spark.read.parquet(path).filter(F.col(ts_col) > F.lit(watermark))


def merge_upsert(target: DataFrame, source: DataFrame,
                 key_cols: list[str]) -> DataFrame:
    """S6 MERGE: source rows win on key collision; unmatched target rows
    survive. Returns the merged relation (caller writes it).

    The source is first reduced to ONE row per key — a micro-batch can
    legitimately carry the same key twice (a page updated twice inside
    one debounce window, or a replayed file): identical duplicates
    collapse via distinct(), and genuinely conflicting rows pick a
    deterministic winner (max to_json of the non-key columns — a stable
    total order that works for array/struct payloads too, where a bare
    orderBy would reject the type). Iceberg's MERGE errors on multiple
    source matches; reducing first keeps the upsert contract (one row
    per key afterward) without failing the stream.

    Equivalent Iceberg: MERGE INTO t USING s ON <keys>
    WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *.
    """
    src = reduce_source(source, key_cols)
    keep = target.join(src.select(*key_cols).distinct(),
                       on=key_cols, how="left_anti")
    return keep.unionByName(src)


def reduce_source(source: DataFrame, key_cols: list[str]) -> DataFrame:
    """The one-row-per-key source reduction merge_upsert performs
    (distinct + deterministic per-key winner by max to_json of the
    non-key columns) — exposed so a stream's FIRST batch (no snapshot
    to merge into yet) applies the identical reduction before its raw
    write; otherwise a first micro-batch legitimately carrying a key
    twice would commit duplicate-key rows into snapshot v=1."""
    from pyspark.sql import Window

    other = [c for c in source.columns if c not in key_cols]
    src = source.distinct()
    if other:
        w = Window.partitionBy(*key_cols).orderBy(
            F.desc(F.to_json(F.struct(*other))))
        src = (src.withColumn("_rn", F.row_number().over(w))
               .filter(F.col("_rn") == 1).drop("_rn"))
    return src


def merge_upsert_clean_orphans(
    target: DataFrame, source: DataFrame, scope_cols: list[str],
) -> DataFrame:
    """S6 + orphan cleanup: full replace *within the scoped groups the
    source touches* (e.g. the urls being re-indexed) — every in-scope
    target row is dropped and the source rows stand in. This equals
    MERGE (UPDATE matched + INSERT new + NOT-MATCHED-BY-SOURCE DELETE
    scoped to the touched groups) because source rows fully replace
    matched rows, so no per-key match is needed. The reference's
    per-file orphan-point deletion (filesystem_vector_store.py:1148-1241)
    / Iceberg's WHEN NOT MATCHED BY SOURCE THEN DELETE with a scope
    predicate. Outside the touched scope the target is untouched."""
    touched = source.select(*scope_cols).distinct()
    untouched = target.join(touched, on=scope_cols, how="left_anti")
    return untouched.unionByName(source)


def reconcile_status(indexed: DataFrame, current: DataFrame,
                     key_cols: list[str], hash_col: str = "h") -> DataFrame:
    """U4 reconcile: full-outer hash compare of the indexed snapshot
    against current reality -> (key..., status) with status in
    added | deleted | changed | same. The work-list half of the
    reference's smart-indexer reconcile (smart_indexer.py:1323-1785),
    consumed by plans.pipeline.run_incremental."""
    # presence is tracked with explicit marker columns, NOT hash
    # nullness: a legitimately-null hash (md5 of a null payload) on the
    # indexed side would otherwise misreport a deleted url as 'added'
    i = indexed.select(*key_cols, F.col(hash_col).alias("_h_idx"),
                       F.lit(True).alias("_in_idx"))
    c = current.select(*key_cols, F.col(hash_col).alias("_h_cur"),
                       F.lit(True).alias("_in_cur"))
    j = i.join(c, key_cols, "full_outer")
    status = (
        F.when(F.col("_in_idx").isNull(), F.lit("added"))
        .when(F.col("_in_cur").isNull(), F.lit("deleted"))
        # null-safe equality: two null hashes on a both-present key are
        # 'same', not 'changed' (eqNullSafe), matching re-index intent
        .when(F.col("_h_idx").eqNullSafe(F.col("_h_cur")), F.lit("same"))
        .otherwise(F.lit("changed"))
    )
    return j.select(*key_cols, status.alias("status"))


def write_snapshot(df: DataFrame, table_dir: str) -> int:
    """S7 finalize as an explicit snapshot commit: write the relation to
    ``table_dir/v=N`` (N = next version), then atomically flip the
    ``_VERSION`` pointer (os.replace). Readers following the pointer
    never observe a half-written snapshot — the parquet directory is
    complete before the pointer moves, exactly Iceberg's
    snapshot-then-swap metadata commit (the reference's end_indexing
    finalize, filesystem_vector_store.py:602). Returns N."""
    n = _write_next(df, table_dir)
    _commit(table_dir, n)
    return n


def _current_version(table_dir: str) -> int:
    """The committed version the ``_VERSION`` pointer names."""
    with open(os.path.join(table_dir, "_VERSION")) as f:
        return int(f.read().strip())


def _write_next(df: DataFrame, table_dir: str) -> int:
    """Write ``df`` as the next version's ``v=N`` directory, uncommitted
    (readers following the pointer do not see it yet). Returns N."""
    os.makedirs(table_dir, exist_ok=True)
    versions = snapshot_versions(table_dir)
    n = (versions[-1] + 1) if versions else 1
    df.write.mode("overwrite").parquet(os.path.join(table_dir, f"v={n}"))
    return n


def _commit(table_dir: str, n: int) -> None:
    """Atomically flip the ``_VERSION`` pointer to version ``n``."""
    tmp = os.path.join(table_dir, "_VERSION.tmp")
    with open(tmp, "w") as f:
        f.write(str(n))
    os.replace(tmp, os.path.join(table_dir, "_VERSION"))


def snapshot_versions(table_dir: str) -> list[int]:
    if not os.path.isdir(table_dir):
        return []
    out = []
    for name in os.listdir(table_dir):
        if name.startswith("v=") and name[2:].isdigit():
            out.append(int(name[2:]))
    return sorted(out)


def read_snapshot(spark: SparkSession, table_dir: str,
                  version: int | None = None) -> DataFrame:
    """Time-travel read: the committed snapshot the ``_VERSION`` pointer
    names (default), or any retained historical version — Iceberg's
    ``VERSION AS OF`` over the parquet stand-in."""
    if version is None:
        version = _current_version(table_dir)
    return spark.read.parquet(os.path.join(table_dir, f"v={version}"))


def snapshot_file_stats(table_dir: str, version: int | None = None) -> dict:
    """(n_files, total_bytes) of a snapshot's parquet data files —
    the small-file diagnostic compaction decides on."""
    if version is None:
        version = _current_version(table_dir)
    vdir = os.path.join(table_dir, f"v={version}")
    files = [os.path.join(vdir, n) for n in os.listdir(vdir)
             if n.endswith(".parquet")]
    return {"version": version, "n_files": len(files),
            "total_bytes": sum(os.path.getsize(p) for p in files)}


def compact_snapshot(spark: SparkSession, table_dir: str,
                     target_bytes: int = 128 * 1024 * 1024) -> dict:
    """Small-file compaction — the Iceberg ``rewrite_data_files``
    maintenance action every 100 TB deployment schedules. A streaming
    MERGE sink commits one snapshot per micro-batch; each commit's
    files shrink as batches get small, and a month of 30-second
    triggers leaves millions of KB-sized files whose open/footer
    overhead dominates scan time. This rewrites the CURRENT snapshot
    into ceil(total_bytes / target_bytes) files as a NEW version and
    atomically flips the pointer — readers never observe the rewrite
    in progress (same snapshot-then-swap as write_snapshot), old
    versions stay readable for time travel until expire_snapshots.

    Bytes are identical, layout changes: the rewrite is a pure
    repartition (round-robin — no shuffle key needed for bin-packing;
    a sort-order compaction would orderBy first). Returns before/after
    file stats.

    Concurrency: the base version is resolved ONCE, and after the
    rewrite the pointer is re-checked — if a writer committed a newer
    snapshot meanwhile, compaction ABORTS (removes its rewrite dir,
    returns {"conflict": True, ...}) instead of flipping the pointer
    past the new commit and losing its rows. The check narrows the
    lost-update window from the whole rewrite to the check-then-flip
    instant; a real Iceberg catalog closes it completely with a CAS on
    the metadata pointer, which a parquet-dir stand-in cannot express —
    schedule compaction from the writer (single-committer), as Iceberg
    deployments do."""
    import math
    import shutil

    base = _current_version(table_dir)
    before = snapshot_file_stats(table_dir, version=base)
    n_files = max(1, math.ceil(before["total_bytes"] / target_bytes))
    df = read_snapshot(spark, table_dir, version=base)
    # write the rewrite dir WITHOUT committing, then check-then-flip
    n = _write_next(df.repartition(n_files), table_dir)
    now = _current_version(table_dir)
    if now != base:
        shutil.rmtree(os.path.join(table_dir, f"v={n}"), ignore_errors=True)
        return {"conflict": True, "base": base, "committed": now,
                "before": before, "target_bytes": target_bytes}
    _commit(table_dir, n)
    after = snapshot_file_stats(table_dir, version=n)
    return {"conflict": False, "before": before, "after": after,
            "target_bytes": target_bytes}


def expire_snapshots(table_dir: str, keep_last: int = 2) -> list[int]:
    """Iceberg ``expire_snapshots``: drop all but the newest
    ``keep_last`` snapshot versions (and never the one the _VERSION
    pointer names — a lagging pointer must stay readable). Returns the
    versions removed. Time travel keeps working for retained versions;
    storage stops growing unboundedly under per-micro-batch commits."""
    import shutil

    versions = snapshot_versions(table_dir)
    current = _current_version(table_dir)
    # versions[-0:] would be the WHOLE list — keep_last=0 must mean
    # "keep only the pointer target", not a silent no-op
    keep = (set(versions[-keep_last:]) if keep_last > 0 else set()) \
        | {current}
    removed = []
    for v in versions:
        if v not in keep:
            vdir = os.path.join(table_dir, f"v={v}")
            shutil.rmtree(vdir, ignore_errors=True)
            # only report versions actually gone: a directory rmtree
            # couldn't delete must not be accounted as reclaimed
            if not os.path.isdir(vdir):
                removed.append(v)
    return removed
