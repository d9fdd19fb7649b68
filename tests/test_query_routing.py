"""The ``queries()`` entries run the package operators they are
credited with, not inline copies: each case patches one operator (or a
helper shared in ``__spark_entry__``) to raise, and the query must
raise it. The operators in turn share one cosine verify step and one
rank rule, pinned the same way. Tables are a few hand-made rows."""

from __future__ import annotations

import importlib

import pyspark.sql.functions as F
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


SIM = "code_indexer_spark.operators.similarity"
FUSION = "code_indexer_spark.operators.fusion"

# every cosine verifier scores through similarity.rounded_cosine and
# every "score desc, tiebreak asc" rank is fusion.add_rank
OPERATOR_CASES = [
    ("brute_force_topk", SIM, "rounded_cosine"),
    ("brute_force_topk", FUSION, "add_rank"),
    ("lsh_topk", SIM, "rounded_cosine"),
    ("lsh_topk", FUSION, "add_rank"),
    ("ivf_topk", SIM, "rounded_cosine"),
    ("ivf_topk", FUSION, "add_rank"),
    ("embedding_dup_pairs", SIM, "rounded_cosine"),
    ("embedding_dup_pairs_lsh", SIM, "rounded_cosine"),
    ("tfidf_top_terms", FUSION, "add_rank"),
    ("bm25_topk", FUSION, "add_rank"),
    ("smart_context", FUSION, "add_rank"),
    ("dedup_by_key", FUSION, "add_rank"),
]


@pytest.mark.parametrize("op,module,attr", OPERATOR_CASES,
                         ids=[f"{o}-{a}" for o, _, a in OPERATOR_CASES])
def test_operator_calls_shared_verify_and_rank(spark, monkeypatch,
                                               op, module, attr):
    from code_indexer_spark.operators import (
        dedup, fusion, graph, similarity, textstats)

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, float(i % 3)]) for i in range(1, 7)],
        "vec_id long, embedding array<double>")
    queries = emb.select(F.col("vec_id").alias("query_id"),
                         F.col("embedding").alias("query_vec"))
    docs = spark.createDataFrame([(1, "a b"), (2, "b c")],
                                 "doc_id long, text string")
    fs = spark.createDataFrame([("f.py", "s")], "file string, symbol string")
    calls = {
        "brute_force_topk": lambda: similarity.brute_force_topk(emb, queries),
        "lsh_topk": lambda: similarity.lsh_topk(emb, queries, dim=3),
        "ivf_topk": lambda: similarity.ivf_topk(emb, queries, n_centroids=2),
        "embedding_dup_pairs": lambda: dedup.embedding_dup_pairs(emb),
        "embedding_dup_pairs_lsh":
            lambda: dedup.embedding_dup_pairs_lsh(emb),
        "tfidf_top_terms": lambda: textstats.tfidf_top_terms(docs),
        "bm25_topk": lambda: textstats.bm25_topk(docs, ["b"]),
        "smart_context": lambda: graph.smart_context(fs, fs, fs),
        "dedup_by_key":
            lambda: fusion.dedup_by_key(docs, ["text"], "doc_id", "doc_id"),
    }

    def routed(*args, **kwargs):
        raise Routed(attr)

    monkeypatch.setattr(importlib.import_module(module), attr, routed)
    with pytest.raises(Routed):
        calls[op]()
