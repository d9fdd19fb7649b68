"""Per-partition lineage + metrics checkpoints with exact resume.

The Spark re-imagination of the reference's progressive metadata
(``/root/reference/src/code_indexer/services/progressive_metadata.py:
22-118`` — files_to_index/completed_files lists, per-branch watermarks,
fcntl-locked JSON; resume decision smart_indexer.py:277-640):

- work is split into WORK_PARTITIONS deterministic url-hash slices
  (``pmod(xxhash64(url), P)``) — the unit of commit and of resume;
- each completed slice appends one checkpoint row
  ``(stage, partition_id, status, rows_in, rows_out, wall_ms,
  input_fingerprint, committed_at)`` AND its output lands in a
  partition-suffixed directory, atomically (parquet dir write);
- resume = anti-join: slices present in the checkpoint table with
  status='done' are skipped (U5 in SURVEY.md §2.8);
- output ids are content-addressed (triple_id = sha2(s|p|o|src_url)),
  so a re-run of a half-written slice is idempotent — the directory is
  simply overwritten with identical bytes (MERGE-on-Iceberg at scale).

Each slice is ``plans.pipeline.build_canonical_triples`` over that
slice's pages, so it shares the session's alias broadcast and persisted
canonical mapping with every other triples path. The mapping stays
persisted after a run, finished or crashed, as it does after
``run_pipeline``; nothing else a run builds stays cached.

Exactness: the final triples table after kill+resume is byte-identical
to an uninterrupted run (tests/test_resume.py proves it by value-hash).
"""

from __future__ import annotations

import json
import os
import time
from datetime import datetime, timezone

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

# perfbench/worker.py rebinds this name on the module to trace it
from ..operators.canonicalize import canonical_mapping  # noqa: F401
from .pipeline import build_canonical_triples, read_pages

WORK_PARTITIONS = 16


def _ckpt_path(out_dir: str) -> str:
    return os.path.join(out_dir, "checkpoints.jsonl")


def load_done(out_dir: str, stage: str,
              input_fingerprint: str | None = None) -> set[int]:
    """Completed slice ids for ``stage`` — matching on the input
    fingerprint too when given: a slice committed under a different
    (kg_dir, partitions) covers a DIFFERENT url set (the url->slice
    hash changes with P), so skipping it on resume would both drop
    urls (never extracted under the new P) and keep stale ones. A
    fingerprint mismatch means the checkpoint rows are from a
    different job configuration and must not satisfy this one."""
    path = _ckpt_path(out_dir)
    done: set[int] = set()
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                row = json.loads(line)
                if (row["stage"] == stage and row["status"] == "done"
                        and (input_fingerprint is None
                             or row.get("input_fingerprint")
                             == input_fingerprint)):
                    done.add(row["partition_id"])
    return done


def append_checkpoint(out_dir: str, **row) -> None:
    os.makedirs(out_dir, exist_ok=True)
    with open(_ckpt_path(out_dir), "a") as f:
        f.write(json.dumps(row, sort_keys=True) + "\n")


def with_work_partition(pages: DataFrame, p: int = WORK_PARTITIONS) -> DataFrame:
    return pages.withColumn(
        "work_pid", F.pmod(F.xxhash64("url"), F.lit(p)).cast("int")
    )


def run_triples_checkpointed(
    spark: SparkSession,
    kg_dir: str,
    out_dir: str,
    partitions: int = WORK_PARTITIONS,
    fail_after: int | None = None,
) -> str:
    """Build the canonical triples table slice-by-slice with exact resume.

    ``fail_after`` (tests only): raise after N slices to simulate a
    mid-job crash. Returns the triples output directory.
    """
    os.makedirs(out_dir, exist_ok=True)
    triples_dir = os.path.join(out_dir, "triples")
    fingerprint = f"{kg_dir}:pages:{partitions}"
    done = load_done(out_dir, "triples", fingerprint)
    # a config change (different kg_dir/partitions) leaves slice dirs
    # from the OLD url->slice hashing on disk; the partition-discovering
    # reader would pick them up as duplicates. Any slice dir not owned
    # by a done row of THIS fingerprint is either stale (out of range,
    # or from the old config) or about to be rewritten — drop it.
    if os.path.isdir(triples_dir):
        import shutil

        for name in os.listdir(triples_dir):
            if not name.startswith("work_pid="):
                continue
            suffix = name.split("=", 1)[1]
            if not suffix.isdigit():
                # stray temp/rename artifact — stale by definition;
                # int() would raise and abort the whole run
                shutil.rmtree(os.path.join(triples_dir, name),
                              ignore_errors=True)
                continue
            pid = int(suffix)
            if pid not in done or pid >= partitions:
                shutil.rmtree(os.path.join(triples_dir, name),
                              ignore_errors=True)

    pages = with_work_partition(read_pages(spark, kg_dir), partitions)
    completed = 0
    for pid in range(partitions):
        if pid in done:
            continue
        if fail_after is not None and completed >= fail_after:
            raise RuntimeError(
                f"simulated crash after {completed} slices")
        t0 = time.monotonic()
        # Observation on both ends of the slice: rows_in counts the pages
        # entering the UDF stage, rows_out the triples written — both
        # ride the ONE write job instead of a count() pre-scan and a
        # re-read of the just-written parquet (2 extra jobs per slice,
        # 32 per run at 16 slices; same mechanism as run_pipeline)
        obs_in, obs_out = Observation(), Observation()
        slice_pages = pages.filter(F.col("work_pid") == pid).observe(
            obs_in, F.count(F.lit(1)).alias("n"))
        # hash-repartition + sortWithinPartitions, NOT a global sort: a
        # range sort samples its child for partition boundaries, which
        # re-executes the whole extract UDF stage — every slice was
        # being extracted TWICE (caught by the Observation row counts
        # double-counting). Hash assignment + in-file order are both
        # deterministic, so output bytes stay resume-stable.
        out = (
            build_canonical_triples(spark, kg_dir, pages=slice_pages)
            .repartition(4, F.col("triple_id"))
            .sortWithinPartitions("triple_id")
            .observe(obs_out, F.count(F.lit(1)).alias("n"))
        )
        part_path = os.path.join(triples_dir, f"work_pid={pid}")
        out.write.mode("overwrite").parquet(part_path)
        rows_in, rows_out = obs_in.get["n"], obs_out.get["n"]
        append_checkpoint(
            out_dir,
            stage="triples",
            partition_id=pid,
            status="done",
            rows_in=rows_in,
            rows_out=rows_out,
            wall_ms=int((time.monotonic() - t0) * 1000),
            input_fingerprint=fingerprint,
            committed_at=datetime.now(timezone.utc).isoformat(),
        )
        completed += 1
    return triples_dir
