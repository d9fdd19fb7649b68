"""The ``queries()`` entries run the package operators they are
credited with, not inline copies: each case patches one operator (or a
helper shared in ``__spark_entry__``) to raise, and the query must
raise it. Tables are a few hand-made rows."""

from __future__ import annotations

import importlib

import pytest

E = "__spark_entry__"
GRAPH = "code_indexer_spark.operators.graph"

CASES = [
    ("reconcile", "code_indexer_spark.sources.tables", "reconcile_status"),
    ("graph_impact", GRAPH, "impact_bfs"),
    ("pagerank", GRAPH, "pagerank"),
    ("graph_deps", E, "_cosupplier_edges"),
    ("graph_impact", E, "_cosupplier_edges"),
    ("pagerank", E, "_cosupplier_edges"),
    ("kg_graph_impact", E, "_top_nodes"),
    ("kg_smart_context", E, "_top_nodes"),
    ("kg_call_chains", E, "_top_nodes"),
]


class Routed(Exception):
    pass


@pytest.fixture(scope="module")
def sf_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("sf")
    spark.createDataFrame(
        [(i, f"doc {i % 4}") for i in range(1, 22)], "doc_id long, text string",
    ).write.parquet(str(d / "documents.parquet"))
    spark.createDataFrame(
        [(1, 0), (1, 3), (2, 3), (2, 5), (3, 50)],
        "l_partkey long, l_suppkey long",
    ).write.parquet(str(d / "lineitem.parquet"))
    return str(d)


@pytest.mark.parametrize("query,module,attr", CASES,
                         ids=[f"{q}-{a}" for q, _, a in CASES])
def test_query_calls_credited_code(spark, sf_dir, monkeypatch,
                                   query, module, attr):
    import __spark_entry__ as e
    from code_indexer_spark.plans import pipeline

    def routed(*args, **kwargs):
        raise Routed(attr)

    # the kg_* queries read a tiny (src, dst) graph and triples table
    # instead of running the extract pipeline
    g = spark.createDataFrame([("a", "b"), ("c", "b"), ("b", "a")],
                              "src string, dst string")
    trip = spark.createDataFrame(
        [("a", "b", "u1")], "subj string, obj string, src_url string")
    monkeypatch.setattr(e, "_kg_dir", lambda d: d)
    monkeypatch.setattr(e, "_kg_graph", lambda spark, d: g)
    monkeypatch.setattr(pipeline, "build_canonical_triples",
                        lambda spark, d: trip)
    monkeypatch.setattr(importlib.import_module(module), attr, routed)
    with pytest.raises(Routed):
        e.queries()[query](spark, sf_dir)
