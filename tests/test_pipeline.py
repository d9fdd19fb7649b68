"""run_pipeline end to end on the seed-fixed sf_small fixture: the four
written tables match their plan builders, each input is read once, the
chunks write overlaps the triples chain and the edges write overlaps
the nodes write on pool threads that carry the caller's job tags, a
failure of either background write raises from run_pipeline, and the
chunks table is written clustered by vbucket, without a shuffle."""

from __future__ import annotations

import os
import re
import shutil

import pyarrow.parquet as pq
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


OVERLAP_TAG = "test-pipeline-overlap"


@pytest.fixture(scope="module")
def tagged_run(spark, kg_small, tmp_path_factory):
    """One run_pipeline under a job tag, over a copy of sf_small that
    this session has not mapped yet, counting the input reads. Returns
    (out_dir, {reader name: calls})."""
    kg_dir = str(tmp_path_factory.mktemp("overlap_kg") / "kg")
    shutil.copytree(kg_small, kg_dir)
    out = str(tmp_path_factory.mktemp("overlap_out"))
    reads = {"read_pages": 0, "read_entities": 0}
    sc = spark.sparkContext
    with pytest.MonkeyPatch.context() as mp:
        for name in reads:
            def counted(*args, _name=name, _real=getattr(pipeline, name)):
                reads[_name] += 1
                return _real(*args)
            mp.setattr(pipeline, name, counted)
        sc.addJobTag(OVERLAP_TAG)
        try:
            pipeline.run_pipeline(spark, kg_dir, out)
        finally:
            sc.clearJobTags()
    return out, reads


def _tagged_jobs(spark, execution) -> list[int]:
    """The execution's job ids; asserts each carries OVERLAP_TAG."""
    job_ids, it = [], execution.jobs().keySet().iterator()
    while it.hasNext():
        job_ids.append(int(it.next()))
    tagged = set(spark.sparkContext._jsc.sc().statusTracker()
                 .getJobIdsForTag(OVERLAP_TAG))
    assert job_ids and set(job_ids) <= tagged
    return job_ids


def test_chunks_write_overlaps_triples_chain(spark, tagged_run):
    out, _ = tagged_run
    store = spark._jsparkSession.sharedState().statusStore()
    chunks = _write_execution(store, f"{out}/chunks.parquet")
    triples = _write_execution(store, f"{out}/triples.parquet")
    assert chunks.submissionTime() < triples.submissionTime()
    _tagged_jobs(spark, chunks)


def test_edges_write_overlaps_nodes_write(spark, tagged_run):
    """The edges write is submitted from a pool thread before the nodes
    write completes, and its jobs carry the caller's job tag."""
    out, _ = tagged_run
    store = spark._jsparkSession.sharedState().statusStore()
    edges = _write_execution(store, f"{out}/edges.parquet")
    nodes = _write_execution(store, f"{out}/nodes.parquet")
    assert edges.submissionTime() < nodes.completionTime().get().getTime()
    _tagged_jobs(spark, edges)


def test_run_pipeline_reads_each_input_once(tagged_run):
    _, reads = tagged_run
    assert reads == {"read_pages": 1, "read_entities": 1}


def test_driver_path_session_mapping_persists_nothing(spark, kg_small,
                                                      tmp_path):
    """The driver path's mapping is a LocalRelation whose rows sit in
    the plan: building the session's mapping persists no RDD."""
    kg_dir = str(tmp_path / "kg")  # a kg_dir this session has not mapped
    shutil.copytree(kg_small, kg_dir)
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size
    before = persisted()
    mapping = pipeline.cached_canonical_mapping(spark, kg_dir)
    assert mapping.count() > 0
    assert persisted() == before
    assert not mapping.is_cached


def test_chunks_write_failure_propagates(spark, kg_small, tmp_path,
                                         monkeypatch):
    monkeypatch.setattr(
        pipeline, "build_chunks",
        lambda spark, kg_dir, pages=None: spark.range(3).withColumn(
            "vbucket",
            F.raise_error(F.lit("chunks boom")).cast("string")))
    with pytest.raises(Exception, match="chunks boom"):
        pipeline.run_pipeline(spark, kg_small, str(tmp_path))


def test_edges_write_failure_propagates(spark, kg_small, tmp_path,
                                        monkeypatch):
    build_edges = pipeline.build_edges
    monkeypatch.setattr(
        pipeline, "build_edges",
        lambda triples: build_edges(triples).withColumn(
            "salted_key",
            F.raise_error(F.lit("edges boom")).cast("string")))
    with pytest.raises(Exception, match="edges boom"):
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


def test_raw_triples_plans_are_same_result(spark, kg_small):
    """Repeat builds share the session's alias broadcast, so their
    plans are sameResult and CacheManager can serve one from the
    other."""
    a, b = (pipeline.build_raw_triples(spark, kg_small)._jdf
            .queryExecution().analyzed() for _ in range(2))
    assert a.sameResult(b)


@pytest.fixture(scope="module")
def digit_bucket_run(spark, kg_small, tmp_path_factory):
    """run_pipeline over three sf_small pages whose chunks all fall in
    all-digit vbuckets (a hive partition directory vbucket=5969 would
    read back as int). Returns (out_dir, the chunks write's physical
    plan), the plan taken from the status store right after the run."""
    from code_indexer_spark.kernel.chunker import chunk_text
    from code_indexer_spark.kernel.embed import bucket_of, embed_text
    from code_indexer_spark.kernel.extract import extract_text

    pages = pq.read_table(f"{kg_small}/pages.parquet")
    keep = [i for i, html in enumerate(pages.column("html").to_pylist())
            if (chunks := chunk_text(extract_text(html), 1000))
            and all(bucket_of(embed_text(c["text"])).isdigit()
                    for c in chunks)][:3]
    assert len(keep) == 3
    kg_dir = tmp_path_factory.mktemp("digit_kg")
    pq.write_table(pages.take(keep), kg_dir / "pages.parquet")
    for name in ("entities", "alias_dict"):
        shutil.copy(f"{kg_small}/{name}.parquet", kg_dir)
    out = str(tmp_path_factory.mktemp("digit_out"))
    pipeline.run_pipeline(spark, str(kg_dir), out)
    store = spark._jsparkSession.sharedState().statusStore()
    plan = _write_execution(store, f"{out}/chunks.parquet") \
        .physicalPlanDescription()
    return out, plan


def test_chunks_write_is_clustered_without_shuffle(digit_bucket_run):
    """The chunks write sorts within its partitions: no Exchange moves
    the chunk rows, and no vbucket=<key> directory is written."""
    out, plan = digit_bucket_run
    assert "Exchange" not in plan
    assert re.search(r"\(\d+\) Sort \[[^\n]*\n(?:[^\n]+\n)*?"
                     r"Arguments: \[vbucket#", plan), plan
    assert not [d for d in os.listdir(f"{out}/chunks.parquet")
                if d.startswith("vbucket=")]


def test_chunks_vbucket_reads_back_as_string(spark, digit_bucket_run):
    out, _ = digit_bucket_run
    chunks = spark.read.parquet(f"{out}/chunks.parquet")
    assert chunks.schema["vbucket"].dataType.simpleString() == "string"
    buckets = {r.vbucket for r in chunks.select("vbucket").collect()}
    assert buckets and all(b.isdigit() for b in buckets)


def test_balanced_search_pushes_vbucket_prefix(spark, digit_bucket_run):
    """The 'balanced' profile's vbucket prefix filter reaches the parquet
    scan as a pushed filter, so row-group min/max stats can skip."""
    from code_indexer_spark.plans.search import semantic_search

    out, _ = digit_bucket_run
    chunks = spark.read.parquet(f"{out}/chunks.parquet")
    probe = chunks.limit(1).collect()[0]
    top = semantic_search(chunks, probe.text, k=1, accuracy="balanced")
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "StringStartsWith(vbucket," in plan.split("PushedFilters:", 1)[1] \
        .split("]", 1)[0]
    assert top.collect()[0].url == probe.url
