"""Canonicalization: Spark LSH-blocking + large-star/small-star CC must
equal the plain-Python union-find oracle exactly; dup-group goldens
(FIXTURES.md §6) must merge. Fixture-sized entity tables take the
driver path, so the Spark-path tests patch SMALL_ENTITIES to 0."""

from collections import Counter, defaultdict

import pyarrow.parquet as pq
import pytest

from code_indexer_spark.kernel.canon import canonical_map
from code_indexer_spark.operators import canonicalize


@pytest.fixture(scope="module")
def entities(kg_small):
    return pq.read_table(f"{kg_small}/entities.parquet").to_pylist()


def test_union_find_oracle_basics():
    ents = [("E1", "Acme Corp", "org"), ("E2", "Acme Corp Inc", "org"),
            ("E3", "Acme Corp Intl", "org"), ("E4", "Zen Labs", "org"),
            ("E5", "Acme Corp", "person")]
    m = canonical_map(ents)
    assert m["E1"] == m["E2"] == m["E3"] == "E1"
    assert m["E4"] == "E4"
    assert m["E5"] == "E5"  # type mismatch never merges


def test_dup_groups_fully_merge(entities):
    m = canonical_map(
        [(e["entity_id"], e["canonical_name"], e["entity_type"])
         for e in entities]
    )
    groups = defaultdict(list)
    for e in entities:
        if e["dup_group"]:
            groups[e["dup_group"]].append(e["entity_id"])
    merged = sum(1 for ids in groups.values()
                 if len({m[i] for i in ids}) == 1)
    assert merged == len(groups)  # 100/100 on the seed-fixed fixture


def test_spark_cc_equals_oracle(spark, kg_small, entities, monkeypatch):
    from code_indexer_spark.operators.canonicalize import canonical_mapping

    monkeypatch.setattr(canonicalize, "SMALL_ENTITIES", 0)
    oracle = canonical_map(
        [(e["entity_id"], e["canonical_name"], e["entity_type"])
         for e in entities]
    )
    got = {r["entity_id"]: r["canonical_id"]
           for r in canonical_mapping(
               spark.read.parquet(f"{kg_small}/entities.parquet")).collect()}
    assert got == oracle


def test_large_star_small_star_chain_and_star(spark):
    """Hand-built graphs: a path, a star, and two components."""
    from code_indexer_spark.operators.canonicalize import large_star_small_star

    edges = spark.createDataFrame(
        [("b", "c"), ("c", "d"), ("d", "e"),      # path b-c-d-e
         ("x", "y"), ("x", "z"),                   # star centered x
         ("a", "b")],                              # joins a to the path
        ["src", "dst"],
    )
    m = {r["entity_id"]: r["canonical_id"]
         for r in large_star_small_star(edges).collect()}
    assert {m[n] for n in "bcde"} == {"a"}
    assert m["y"] == m["z"] == "x"


def test_star_loop_equals_union_find(spark, kg_small):
    """The distributed large-star/small-star loop must produce exactly
    the components kernel.canon's union-find gives on the same edges."""
    from code_indexer_spark.kernel.canon import connected_components
    from code_indexer_spark.operators.canonicalize import (
        large_star_small_star, verified_edges)
    from code_indexer_spark.plans.pipeline import read_entities

    # materialized once: both sides read the same edges
    edges = verified_edges(read_entities(spark, kg_small)).localCheckpoint(
        eager=True)
    # the star graph has no identity row for component roots
    # (canonical_mapping coalesces those); union-find maps root -> root
    star = {(r.entity_id, r.canonical_id)
            for r in large_star_small_star(edges).collect()}
    uf = {(n, root) for n, root in connected_components(
              [(r.src, r.dst) for r in edges.collect()]).items()
          if n != root}
    assert star == uf
    assert len(star) > 0


def test_empty_edges_clean_input(spark, monkeypatch):
    """A clean entity set (no verified duplicate pairs) must yield an
    empty star mapping, not CANNOT_INFER_EMPTY_SCHEMA, and
    canonical_mapping then returns pure identity rows on both paths."""
    from code_indexer_spark.operators.canonicalize import (
        canonical_mapping, large_star_small_star)

    empty = spark.createDataFrame([], "src string, dst string")
    assert large_star_small_star(empty).collect() == []

    ents = spark.createDataFrame(
        [("e1", "Alpha Corp", "org"), ("e2", "Totally Different Llc", "org")],
        ["entity_id", "canonical_name", "entity_type"])
    for small in (canonicalize.SMALL_ENTITIES, 0):
        monkeypatch.setattr(canonicalize, "SMALL_ENTITIES", small)
        m = {r.entity_id: r.canonical_id
             for r in canonical_mapping(ents).collect()}
        assert m == {"e1": "e1", "e2": "e2"}


def test_small_entity_table_maps_in_one_job(spark, kg_small):
    """At fixture size the mapping is one collect of the entities plus
    the kernel on the driver: exactly one Spark job, oracle-equal."""
    from code_indexer_spark.operators.canonicalize import canonical_mapping
    from code_indexer_spark.plans.pipeline import read_entities

    ents = read_entities(spark, kg_small)  # schema inference runs a job
    sc = spark.sparkContext
    tag = "test-canonical-mapping-jobs"
    sc.addJobTag(tag)
    try:
        mapping = canonical_mapping(ents)
    finally:
        sc.clearJobTags()
    assert len(sc._jsc.sc().statusTracker().getJobIdsForTag(tag)) == 1
    rows = [tuple(r) for r in ents.select(
        "entity_id", "canonical_name", "entity_type").collect()]
    assert dict(map(tuple, mapping.collect())) == canonical_map(rows)


def test_driver_path_mapping_is_a_local_relation(spark, kg_small):
    """The driver path hands its rows to Spark as Arrow: the mapping
    plans as a LocalRelation, not a LogicalRDD of pickled rows."""
    from code_indexer_spark.operators.canonicalize import canonical_mapping
    from code_indexer_spark.plans.pipeline import read_entities

    mapping = canonical_mapping(read_entities(spark, kg_small))
    plan = mapping._jdf.queryExecution().optimizedPlan()
    assert plan.nodeName() == "LocalRelation", plan.toString()


def test_spark_path_mapping_is_persisted_and_counted(spark, monkeypatch):
    """The Spark path returns its mapping cached and already
    materialized, so no consumer re-runs the star loop's lineage."""
    from code_indexer_spark.operators.canonicalize import canonical_mapping

    monkeypatch.setattr(canonicalize, "SMALL_ENTITIES", 0)
    rows = [("e1", "Acme Corp", "org"), ("e2", "Acme Corp Inc", "org"),
            ("e3", "Zen Labs", "org")]
    mapping = canonical_mapping(spark.createDataFrame(
        rows, ["entity_id", "canonical_name", "entity_type"]))
    try:
        assert mapping.is_cached
        cached = spark._jsparkSession.sharedState().cacheManager() \
            .lookupCachedData(mapping._jdf)
        assert cached.get().cachedRepresentation().cacheBuilder() \
            .isCachedColumnBuffersLoaded()
        assert dict(map(tuple, mapping.collect())) == canonical_map(rows)
    finally:
        mapping.unpersist()


def test_kernel_hashes_each_distinct_shingle_once(entities, monkeypatch):
    """kernel.canon.candidate_pairs computes NUM_HASHES seeded digests
    per distinct shingle, not per (entity, shingle) occurrence; band
    keys are md5s of their own, one per (entity, band). The pairs equal
    those of the per-name minhash_signature."""
    from code_indexer_spark.kernel import canon, hashes

    ents = [(e["entity_id"], e["canonical_name"], e["entity_type"])
            for e in entities]
    buckets = defaultdict(set)
    for eid, name, etype in ents:
        for band in canon.name_bands(name):
            buckets[(etype, canon.first_token(name)) + band].add(eid)
    want = {(a, b) for ids in buckets.values()
            for a in ids for b in ids if a < b}

    distinct = set().union(*(canon.name_shingles(n) for _, n, _ in ents))
    seeds = {str(i) for i in range(canon.NUM_HASHES)}
    seeded, band_keys = [], []
    md5_hex = hashes.md5_hex

    def counted(s):
        head, _, tail = s.partition("|")
        (seeded if head in seeds and tail in distinct else band_keys
         ).append(s)
        return md5_hex(s)

    monkeypatch.setattr(hashes, "md5_hex", counted)
    monkeypatch.setattr(canon, "md5_hex", counted)
    assert canon.candidate_pairs(ents) == want
    assert len(seeded) == canon.NUM_HASHES * len(distinct)
    assert len(band_keys) == canon.BANDS * len(ents)


def test_driver_path_matches_spark_path_on_nulls_and_duplicates(
        spark, monkeypatch):
    """NULL ids, names and types never pair on the Spark path (NULL join
    keys); the driver path must keep them out of the kernel and map each
    such row to itself, one output row per input row."""
    from code_indexer_spark.operators.canonicalize import canonical_mapping

    ents = spark.createDataFrame(
        [("e1", "Acme Corp", "org"),
         ("e2", "Acme Corp", "org"),        # duplicate name: merges
         ("e3", "Acme Corp", None),         # NULL type
         ("e4", "Acme Corp", None),         # a second NULL type
         ("e5", None, "org"),               # NULL name
         ("e6", None, "org"),
         (None, "Acme Corp", "org"),        # NULL id
         ("e1", "Acme Corp", "org"),        # duplicate row
         ("e7", "Zen Labs", "org")],
        "entity_id string, canonical_name string, entity_type string")
    fast = canonical_mapping(ents)
    monkeypatch.setattr(canonicalize, "SMALL_ENTITIES", 0)
    forced = canonical_mapping(ents)
    assert fast.schema == forced.schema
    got = Counter(map(tuple, fast.collect()))
    assert got == Counter(map(tuple, forced.collect()))
    assert got == Counter({("e1", "e1"): 2, ("e2", "e1"): 1,
                           ("e3", "e3"): 1, ("e4", "e4"): 1,
                           ("e5", "e5"): 1, ("e6", "e6"): 1,
                           (None, None): 1, ("e7", "e7"): 1})


def test_size_decision_boundary(spark, monkeypatch):
    """SMALL_ENTITIES rows take the driver path; one more row takes the
    Spark path (large_star_small_star runs); both equal the oracle."""
    from code_indexer_spark.operators.canonicalize import canonical_mapping

    calls = []
    star = canonicalize.large_star_small_star
    monkeypatch.setattr(canonicalize, "large_star_small_star",
                        lambda edges: calls.append(1) or star(edges))
    monkeypatch.setattr(canonicalize, "SMALL_ENTITIES", 3)
    rows = [("e1", "Acme Corp", "org"), ("e2", "Acme Corp Inc", "org"),
            ("e3", "Zen Labs", "org"), ("e4", "Zen Labs Inc", "org")]
    for n, star_calls in ((3, 0), (4, 1)):
        calls.clear()
        df = spark.createDataFrame(
            rows[:n], ["entity_id", "canonical_name", "entity_type"])
        got = dict(map(tuple, canonical_mapping(df).collect()))
        assert len(calls) == star_calls
        assert got == canonical_map(rows[:n])


def test_band_stage_matches_kernel(spark, monkeypatch):
    """The JVM-side band_stage must emit exactly the (tok0, band_id,
    band_key) set kernel.canon computes in plain Python — including the
    short-name (<3 chars) and empty-name edge cases."""
    from code_indexer_spark.kernel.canon import first_token, name_bands
    from code_indexer_spark.operators.canonicalize import (
        _name_shingles, band_stage, canonical_mapping)

    ents = [("e1", "Acme Corporation", "org"),
            ("e2", "ACME Corp.", "org"),
            ("e3", "Jo", "person"),          # shorter than shingle k
            ("e4", "", "org"),               # empty name
            ("e5", "  ?!  ", "org"),         # normalizes to empty
            ("e6", "", "org")]               # a second empty org name
    df = spark.createDataFrame(
        ents, ["entity_id", "canonical_name", "entity_type"])
    got = {(r.entity_id, r.tok0, r.band_id, r.band_key)
           for r in band_stage(_name_shingles(df)).collect()}
    want = {
        (eid, first_token(name), band_id, band_key)
        for eid, name, _ in ents
        for band_id, band_key in name_bands(name)
    }
    assert got == want
    # empty names merge: jaccard(∅, ∅) = 1.0 on both sides
    monkeypatch.setattr(canonicalize, "SMALL_ENTITIES", 0)
    assert {r.entity_id: r.canonical_id
            for r in canonical_mapping(df).collect()} == canonical_map(ents)
