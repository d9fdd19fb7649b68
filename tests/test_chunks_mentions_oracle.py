"""Plain-Python oracles for the kg chunks and mentions tables: the
kernels called directly over the fixture pages, ids computed with
hashlib, compared row for row (as multisets) against the fused
Arrow-UDF stages. This checks the Spark side (batching, Arrow
conversion, the JVM id columns) independently of the value-hash pins
in tests/test_kg_graph.py, which only freeze what the engine printed."""

import hashlib
from collections import Counter

import pyarrow.parquet as pq
import pytest

from code_indexer_spark.kernel.chunker import chunk_text
from code_indexer_spark.kernel.embed import bucket_of, embed_text
from code_indexer_spark.kernel.extract import extract_text
from code_indexer_spark.kernel.nlp import AliasIndex


@pytest.fixture(scope="module")
def page_chunks(kg_small):
    """(url, lang, chunk dict) for every chunk of every fixture page."""
    pages = pq.read_table(f"{kg_small}/pages.parquet",
                          columns=["url", "lang", "html"]).to_pylist()
    return [(p["url"], p["lang"], c) for p in pages
            for c in chunk_text(extract_text(p["html"]), 1000)]


def test_chunks_match_oracle(spark, kg_small, page_chunks):
    from code_indexer_spark.plans.pipeline import build_chunks

    cols = ["url", "lang", "chunk_index", "total_chunks", "size",
            "line_start", "line_end", "text", "content_hash", "point_id",
            "vbucket", "embedding"]
    oracle = Counter()
    for url, lang, c in page_chunks:
        content_hash = hashlib.sha256(c["text"].encode("utf-8")).hexdigest()
        point_id = hashlib.md5(
            f"{url}_{content_hash}_{c['chunk_index']}".encode("utf-8")
        ).hexdigest()
        v = embed_text(c["text"])
        oracle[(url, lang, c["chunk_index"], c["total_chunks"], c["size"],
                c["line_start"], c["line_end"], c["text"], content_hash,
                point_id, bucket_of(v), tuple(v.tolist()))] += 1
    got = Counter(
        tuple(r[:-1]) + (tuple(r[-1]),)
        for r in build_chunks(spark, kg_small).select(*cols).collect())
    assert sum(oracle.values()) > 1000  # the fixture actually chunks
    assert got == oracle


def test_mentions_match_oracle(spark, kg_small, page_chunks):
    from code_indexer_spark.plans.pipeline import build_mentions

    aliases = pq.read_table(f"{kg_small}/alias_dict.parquet").to_pylist()
    idx = AliasIndex([(a["alias"], a["entity_id"], a["entity_type"],
                       float(a["prior"]), a["canonical_name"])
                      for a in aliases])
    oracle = Counter()
    for url, _, c in page_chunks:
        ctx = embed_text(c["text"])
        for pos, norm, _ in idx.detect_mentions(c["text"]):
            linked = idx.link(norm, None, ctx)
            if linked is not None:
                eid, score, cands = linked
                oracle[(url, c["chunk_index"], pos, norm, eid,
                        round(score, 6), tuple(cands))] += 1
    got = Counter(
        (r.url, r.chunk_index, r.token_pos, r.alias_norm, r.entity_id,
         r.link_score, tuple(r.entity_id_candidates))
        for r in build_mentions(spark, kg_small).collect())
    assert sum(oracle.values()) > 1000  # the fixture actually links
    assert got == oracle
