"""Mention detection, entity linking, and SPO triple emission stages.

The alias dictionary (~5k rows) is broadcast to executors once per job
via ``SparkContext.broadcast`` and rebuilt lazily into an AliasIndex
inside each Python worker (a plain broadcast variable — the Spark analog
of the reference keeping its payload indexes in process memory,
filesystem_vector_store.py:307-426). Both fused stages are
``util.arrow_rows`` row stages: the index is looked up once per
partition, on its first Arrow batch, and each page row expands into
its triple or mention rows.

Reference parity (SURVEY.md §7.0):
- mention detection <- FTS identifiers side channel
  (smart_indexer.py:1309) upgraded to longest-match dictionary scan;
- entity-link scoring <- ANN + rerank funnel
  (filesystem_vector_store.py:2968-3100, cli_search_funnel.py:52-150);
- SPO rules <- X-Ray rule-as-data evaluator
  (xray/search_engine.py:231-507);
- triple idempotency key <- content-addressed point ids
  (file_chunking_manager.py:376-387): sha2(subj|pred|obj|src_url).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, StringType, StructField, StructType,
)

from ..functions.columns import triple_id
from ..util import arrow_rows

TRIPLE_SCHEMA = StructType(
    [
        StructField("src_url", StringType()),
        StructField("subj", StringType()),
        StructField("pred", StringType()),
        StructField("obj", StringType()),
        StructField("rule_id", StringType()),
        StructField("confidence", DoubleType()),
    ]
)

MENTION_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("chunk_index", IntegerType()),
        StructField("token_pos", IntegerType()),
        StructField("alias_norm", StringType()),
        StructField("entity_id", StringType()),
        StructField("link_score", DoubleType()),
        StructField("entity_id_candidates", ArrayType(StringType())),
    ]
)


def broadcast_alias_rows(spark: SparkSession, alias_df: DataFrame):
    """Collect + broadcast the alias dictionary (small dim, <10 MB)."""
    rows = [
        (r["alias"], r["entity_id"], r["entity_type"], float(r["prior"]),
         r["canonical_name"])
        for r in alias_df.select(
            "alias", "entity_id", "entity_type", "prior", "canonical_name"
        ).collect()
    ]
    return spark.sparkContext.broadcast(rows)


def _index_of(bc):
    """Rebuild (and memoize per worker) the AliasIndex from broadcast rows."""
    from ..kernel.nlp import AliasIndex

    cache = getattr(_index_of, "_cache", None)
    if cache is None or cache[0] is not bc:
        _index_of._cache = (bc, AliasIndex(bc.value))
    return _index_of._cache[1]


def extract_triples_fused(pages: DataFrame, alias_bc) -> DataFrame:
    """Fused extract + rule-match + link stage: html -> triples in ONE
    Arrow pass (one round trip instead of two; the full extracted text
    never crosses the JVM/Python boundary).

    One page row in, zero-or-more raw (pre-canonicalization) triple
    rows out — a row-expanding ``util.arrow_rows`` stage."""

    def make_rows():
        from ..kernel.extract import extract_text
        from ..kernel.nlp import extract_triples_from_text

        idx = _index_of(alias_bc)

        def rows(url, html):
            for t in extract_triples_from_text(extract_text(html), idx):
                yield (url, *t)

        return rows

    raw = arrow_rows(pages, ["url", "html"], TRIPLE_SCHEMA, make_rows)
    return raw.withColumn(
        "triple_id", triple_id("subj", "pred", "obj", "src_url"))


def mentions_fused(pages: DataFrame, alias_bc) -> DataFrame:
    """Fused extract + chunk + mention-detect + link: html ->
    mentions(url, chunk_index, token_pos, alias_norm, entity_id,
    link_score, entity_id_candidates) in ONE Arrow pass (one round trip
    instead of three — the html/extracted text never re-crosses the
    JVM/Python boundary).

    Linking context = the chunk's own embedding (sentence-free
    variant): score each candidate by prior × (0.5 + 0.5·cos(chunk_vec,
    name_vec)) — same funnel as triples linking."""

    def make_rows():
        from ..kernel.chunker import chunk_text
        from ..kernel.embed import embed_text
        from ..kernel.extract import extract_text

        idx = _index_of(alias_bc)

        def rows(url, html):
            for c in chunk_text(extract_text(html), 1000):
                ments = idx.detect_mentions(c["text"])
                if not ments:
                    continue
                ctx = embed_text(c["text"])
                for pos, norm, _ in ments:
                    linked = idx.link(norm, None, ctx)
                    if linked is None:
                        continue
                    eid, score, cands = linked
                    yield (url, int(c["chunk_index"]), pos, norm, eid,
                           round(score, 6), cands)

        return rows

    return arrow_rows(pages, ["url", "html"], MENTION_SCHEMA, make_rows)
