"""Canonicalization: Spark LSH-blocking + large-star/small-star CC must
equal the plain-Python union-find oracle exactly; dup-group goldens
(FIXTURES.md §6) must merge."""

from collections import defaultdict

import pyarrow.parquet as pq
import pytest

from code_indexer_spark.kernel.canon import canonical_map


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


def test_spark_cc_equals_oracle(spark, kg_small, entities):
    from code_indexer_spark.operators.canonicalize import canonical_mapping

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
    """The distributed large-star/small-star path must produce the
    exact mapping the driver union-find path produces (the dispatcher
    picks by size; both must be interchangeable)."""
    from code_indexer_spark.operators.canonicalize import (
        connected_components, large_star_small_star, verified_edges)
    from code_indexer_spark.plans.pipeline import read_entities

    # materialized once: the three paths below all read the same edges
    edges = verified_edges(read_entities(spark, kg_small)).localCheckpoint(
        eager=True)
    # normalize: the star graph has no identity row for component roots
    # (canonical_mapping coalesces those); union-find emits (root, root)
    def nonid(rows):
        return {(r.entity_id, r.canonical_id) for r in rows
                if r.entity_id != r.canonical_id}

    star = nonid(large_star_small_star(edges).collect())
    # threshold=0 forces the star loop; threshold=inf forces union-find
    uf = nonid(connected_components(edges, threshold=0).collect())
    uf2 = nonid(connected_components(edges, threshold=10**9).collect())
    assert star == uf == uf2
    assert len(star) > 0


def test_empty_edges_clean_input(spark):
    """A clean entity set (no verified duplicate pairs) must yield an
    empty mapping, not CANNOT_INFER_EMPTY_SCHEMA, on BOTH CC paths —
    canonical_mapping then returns pure identity rows."""
    from code_indexer_spark.operators.canonicalize import (
        canonical_mapping, connected_components)

    empty = spark.createDataFrame([], "src string, dst string")
    for threshold in (0, 10**9):
        got = connected_components(empty, threshold=threshold).collect()
        assert got == []

    ents = spark.createDataFrame(
        [("e1", "Alpha Corp", "org"), ("e2", "Totally Different Llc", "org")],
        ["entity_id", "canonical_name", "entity_type"])
    m = {r.entity_id: r.canonical_id for r in canonical_mapping(ents).collect()}
    assert m == {"e1": "e1", "e2": "e2"}


def test_band_stage_matches_kernel(spark):
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
    assert {r.entity_id: r.canonical_id
            for r in canonical_mapping(df).collect()} == canonical_map(ents)
