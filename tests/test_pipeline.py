"""run_pipeline end to end on the seed-fixed sf_small fixture: the four
written tables match their plan builders, the chunks write overlaps the
triples chain on a second driver thread that carries the caller's job
tags, and a failure of that background write raises from run_pipeline."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from code_indexer_spark.plans import pipeline

TRIPLE_COLS = ["subj", "pred", "obj", "src_url", "rule_id", "triple_id"]


def test_run_pipeline_tables_match_builders(spark, kg_small, tmp_path):
    out = str(tmp_path)
    counts = pipeline.run_pipeline(spark, kg_small, out)

    tables = {name: spark.read.parquet(f"{out}/{name}.parquet")
              for name in ("triples", "nodes", "edges", "chunks")}
    assert counts == {name: df.count() for name, df in tables.items()}

    written = tables["triples"].select(*TRIPLE_COLS)
    expected = pipeline.build_canonical_triples(spark, kg_small) \
        .select(*TRIPLE_COLS)
    assert written.exceptAll(expected).count() == 0
    assert expected.exceptAll(written).count() == 0

    chunk_ids = {r.point_id for r in tables["chunks"].select("point_id")
                 .collect()}
    assert chunk_ids == {r.point_id for r in pipeline.build_chunks(
        spark, kg_small).select("point_id").collect()}


def _write_execution(store, path_part: str):
    """The SQL execution whose physical plan writes ``path_part``."""
    execs = store.executionsList()
    hits = []
    for i in range(execs.size()):
        plan = execs.apply(i).physicalPlanDescription()
        if "InsertIntoHadoopFsRelationCommand" in plan and path_part in plan:
            hits.append(execs.apply(i))
    assert len(hits) == 1, [h.executionId() for h in hits]
    return hits[0]


def test_chunks_write_overlaps_triples_chain(spark, kg_small, tmp_path):
    sc = spark.sparkContext
    tag = "test-pipeline-overlap"
    out = str(tmp_path)
    sc.addJobTag(tag)
    try:
        pipeline.run_pipeline(spark, kg_small, out)
    finally:
        sc.clearJobTags()

    store = spark._jsparkSession.sharedState().statusStore()
    chunks = _write_execution(store, f"{out}/chunks.parquet")
    triples = _write_execution(store, f"{out}/triples.parquet")
    assert chunks.submissionTime() < triples.submissionTime()

    job_ids, it = [], chunks.jobs().keySet().iterator()
    while it.hasNext():
        job_ids.append(int(it.next()))
    tagged = set(sc._jsc.sc().statusTracker().getJobIdsForTag(tag))
    assert job_ids and set(job_ids) <= tagged


def test_chunks_write_failure_propagates(spark, kg_small, tmp_path,
                                         monkeypatch):
    monkeypatch.setattr(
        pipeline, "build_chunks",
        lambda spark, kg_dir: spark.range(3).withColumn(
            "vbucket",
            F.raise_error(F.lit("chunks boom")).cast("string")))
    with pytest.raises(Exception, match="chunks boom"):
        pipeline.run_pipeline(spark, kg_small, str(tmp_path))


def test_build_chunks_reads_pages_as_scanned(spark, kg_small, tmp_path):
    """A pages table of one split feeds the chunk stage as scanned: the
    plan has no round-robin shuffle of the page html."""
    pages = str(tmp_path / "pages.parquet")
    spark.read.parquet(f"{kg_small}/pages.parquet").limit(20).coalesce(1) \
        .write.parquet(pages)
    assert spark.read.parquet(pages).rdd.getNumPartitions() == 1
    plan = pipeline.build_chunks(spark, str(tmp_path)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" not in plan
