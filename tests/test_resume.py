"""Exact resume: kill mid-job -> resume -> byte-identical output
(north rule checkpoint requirement; progressive_metadata.py analog)."""

import json
import os

import pytest


def _table_hash(spark, path: str) -> tuple[int, str]:
    import pyspark.sql.functions as F

    df = spark.read.parquet(path).select("triple_id", "subj", "pred", "obj",
                                         "src_url", "rule_id")
    n = df.count()
    h = df.agg(F.coalesce(F.expr(
        "bit_xor(xxhash64(triple_id, subj, pred, obj, src_url, rule_id))"
    ), F.lit(0))).collect()[0][0]
    return n, str(h)


def test_kill_resume_identical(spark, kg_small, tmp_path):
    from code_indexer_spark.plans.checkpoint import (
        load_done, run_triples_checkpointed)

    full_dir = str(tmp_path / "full")
    run_triples_checkpointed(spark, kg_small, full_dir, partitions=6)
    expect = _table_hash(spark, os.path.join(full_dir, "triples"))

    # crash after 2 slices...
    crash_dir = str(tmp_path / "crash")
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_triples_checkpointed(spark, kg_small, crash_dir, partitions=6,
                                 fail_after=2)
    assert len(load_done(crash_dir, "triples")) == 2

    # ...resume completes only the remaining slices
    run_triples_checkpointed(spark, kg_small, crash_dir, partitions=6)
    done = load_done(crash_dir, "triples")
    assert done == set(range(6))
    got = _table_hash(spark, os.path.join(crash_dir, "triples"))
    assert got == expect  # value-identical output after kill+resume

    # and it is the same table the unsliced build makes, row for row
    # (the kernel emits a triple stated twice on a page twice)
    from collections import Counter

    from code_indexer_spark.plans.pipeline import build_canonical_triples

    cols = ["subj", "pred", "obj", "src_url", "rule_id"]

    def rows(df):
        return Counter(tuple(r) for r in df.select(*cols).collect())

    assert rows(spark.read.parquet(os.path.join(crash_dir, "triples"))) \
        == rows(build_canonical_triples(spark, kg_small))


def _count_calls(monkeypatch, module, name) -> list:
    """Wrap ``module.name`` in every package module that imports it;
    the returned list grows by one per call."""
    import sys

    real, calls = getattr(module, name), []

    def counted(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "").startswith("code_indexer_spark")
                and vars(mod).get(name) is real):
            monkeypatch.setattr(mod, name, counted)
    return calls


def test_crash_keeps_only_the_session_mapping_cached(spark, kg_small,
                                                     tmp_path, monkeypatch):
    """A crash between slices leaves no more persisted data than before
    the run, and the run builds no mapping beside the session's."""
    from code_indexer_spark.operators import canonicalize
    from code_indexer_spark.plans import checkpoint, pipeline

    pipeline.cached_canonical_mapping(spark, kg_small)
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size
    before = persisted()
    mappings = _count_calls(monkeypatch, canonicalize, "canonical_mapping")
    with pytest.raises(RuntimeError, match="simulated crash"):
        checkpoint.run_triples_checkpointed(
            spark, kg_small, str(tmp_path), partitions=4, fail_after=1)
    assert persisted() == before
    assert mappings == []


def test_one_alias_broadcast_per_session_and_kg_dir(spark, kg_small,
                                                    tmp_path, monkeypatch):
    """Raw triples (twice), mentions and a checkpointed run over one
    kg_dir share one alias broadcast."""
    import shutil

    from code_indexer_spark.operators import triples
    from code_indexer_spark.plans import checkpoint, pipeline

    kg = str(tmp_path / "kg")  # a kg_dir this session has not seen
    shutil.copytree(kg_small, kg)
    calls = _count_calls(monkeypatch, triples, "broadcast_alias_rows")
    pipeline.build_raw_triples(spark, kg)
    pipeline.build_raw_triples(spark, kg)
    pipeline.build_mentions(spark, kg)
    checkpoint.run_triples_checkpointed(spark, kg, str(tmp_path / "ck"),
                                        partitions=2)
    assert len(calls) == 1


def test_checkpoint_rows_have_lineage(spark, kg_small, tmp_path):
    from code_indexer_spark.plans.checkpoint import run_triples_checkpointed

    out = str(tmp_path / "ck")
    run_triples_checkpointed(spark, kg_small, out, partitions=4)
    rows = [json.loads(line)
            for line in open(os.path.join(out, "checkpoints.jsonl"))]
    assert len(rows) == 4
    for r in rows:
        assert r["status"] == "done"
        assert r["rows_in"] > 0 and r["rows_out"] >= 0
        assert r["wall_ms"] >= 0 and r["input_fingerprint"]
    # slices partition the input exactly
    n_pages = spark.read.parquet(f"{kg_small}/pages.parquet").count()
    assert sum(r["rows_in"] for r in rows) == n_pages


def test_reconcile_incremental(spark, kg_small):
    """run_incremental: (a) result == full rebuild exactly; (b) planted
    stale triples for changed urls are orphan-cleaned; (c) ONLY the
    added/changed pages enter the extract UDF stage; (d) deleted urls'
    triples drop."""
    import sys

    import pyspark.sql.functions as F

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from code_indexer_spark.plans.pipeline import (
        build_canonical_triples, read_pages, run_incremental)
    from code_indexer_spark.sources.tables import reconcile_status

    kg = kg_small
    full = {(r.subj, r.pred, r.obj, r.src_url) for r in
            build_canonical_triples(spark, kg).collect()}
    got_df = entrymod.kg_reconcile_incremental(spark, "/root/testdata/sf0.001")
    got = {(r.subj, r.pred, r.obj, r.src_url) for r in got_df.collect()}
    assert got == full
    assert not any(p == "stale_pred" for _, p, _, _ in got)

    # work-list size: only added/changed pages are re-extracted
    pages = read_pages(spark, kg)
    bucket = F.pmod(F.xxhash64("url"), F.lit(10))
    stale = F.pmod(F.xxhash64("url"), F.lit(7)) == 0
    n_added = pages.filter(bucket == 0).count()
    n_changed = pages.filter((bucket != 0) & stale).count()
    indexed_index = pages.filter(bucket != 0).select(
        "url",
        F.when(stale, F.lit("stale-hash"))
        .otherwise(F.md5(F.col("html"))).alias("h"))
    current = pages.select("url", F.md5(F.col("html")).alias("h"))
    st = reconcile_status(indexed_index, current, ["url"])
    counts = {r.status: r.n for r in
              st.groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts.get("added", 0) == n_added > 0
    assert counts.get("changed", 0) == n_changed > 0
    assert counts.get("deleted", 0) == 0

    # deleted handling: an indexed url missing from disk loses its rows
    ghost = indexed_index.unionByName(
        spark.createDataFrame([("https://gone.example/x", "h0")],
                              ["url", "h"]))
    prior = build_canonical_triples(
        spark, kg, pages=pages.filter((bucket != 0) & ~stale))
    ghost_row = spark.createDataFrame(
        [("g", "p", "o", "https://gone.example/x", "r", 1.0, "t")],
        prior.columns)
    out = run_incremental(spark, kg, prior.unionByName(ghost_row), ghost)
    assert out.filter(F.col("src_url") == "https://gone.example/x").count() == 0


def test_resume_config_change_rebuilds(spark, kg_small, tmp_path):
    """Resume after a PARTITIONS change must not mix slices from two
    url->slice hashings: the fingerprint mismatch voids the old done
    set, stale slice dirs are pruned, and the result equals a clean
    run at the new configuration."""
    from code_indexer_spark.plans.checkpoint import (
        load_done, run_triples_checkpointed)

    clean_dir = str(tmp_path / "clean6")
    run_triples_checkpointed(spark, kg_small, clean_dir, partitions=6)
    expect = _table_hash(spark, os.path.join(clean_dir, "triples"))

    mixed_dir = str(tmp_path / "mixed")
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_triples_checkpointed(spark, kg_small, mixed_dir, partitions=9,
                                 fail_after=3)
    # config change: resume with 6 partitions — the 3 slices committed
    # under P=9 must NOT satisfy the P=6 run
    assert load_done(mixed_dir, "triples",
                     f"{kg_small}:pages:6") == set()
    run_triples_checkpointed(spark, kg_small, mixed_dir, partitions=6)
    got = _table_hash(spark, os.path.join(mixed_dir, "triples"))
    assert got == expect
    # no stale work_pid dirs from the P=9 attempt survive (pid 6..8)
    dirs = {d for d in os.listdir(os.path.join(mixed_dir, "triples"))
            if d.startswith("work_pid=")}
    assert dirs == {f"work_pid={i}" for i in range(6)}
