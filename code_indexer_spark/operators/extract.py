"""Extraction + chunking + embedding Spark stages (SURVEY.md §2.2-2.3).

All heavy per-row work runs in Arrow-batched ``mapInPandas`` /
``pandas_udf`` stages that wrap the plain-Python kernels — no
row-at-a-time Python UDFs, no driver-side loops. Column-expression work
(hashes, ids, explode) stays JVM-side in whole-stage codegen.

Reference parity:
- extract: deterministic HTML->text + <img src> kernel
  (image_extractor.py:420-440 semantics; encoding cascade
  fixed_size_chunker.py:264-277);
- chunk: fixed-size windows (fixed_size_chunker.py:159-238), emitted as
  array<struct> then ``posexplode``-free explode (index carried in the
  struct — cheaper than a window);
- ids: point_id = md5(url + content-hash + chunk_index)
  (file_chunking_manager.py:376-380), content_hash = sha256(chunk text)
  (:386-387) — both as JVM-side F.md5/F.sha2 column expressions, not UDFs;
- embed: deterministic local embedding (kernel.embed) + the reference's
  2-bit-quantized vector bucket as a partition column
  (vector_quantizer.py:37-127).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType, FloatType, IntegerType, StringType, StructField, StructType,
)

from ..functions.columns import content_hash, point_id

CHUNK_STRUCT = StructType(
    [
        StructField("text", StringType()),
        StructField("chunk_index", IntegerType()),
        StructField("total_chunks", IntegerType()),
        StructField("size", IntegerType()),
        StructField("line_start", IntegerType()),
        StructField("line_end", IntegerType()),
    ]
)


def extract_stage(pages: DataFrame, text_col: str = "text_extracted") -> DataFrame:
    """pages(url, warc_ts, html, lang, ...) -> + text_extracted, images.

    mapInPandas (not a scalar UDF) so one pass yields both text and the
    image list without parsing the HTML twice.
    """
    fields = [f for f in pages.schema.fields if f.name not in (text_col, "images")]
    out_schema = StructType(
        fields
        + [
            StructField(text_col, StringType()),
            StructField("images", ArrayType(StringType())),
        ]
    )
    names = [f.name for f in fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernel.extract import extract_page

        for pdf in batches:
            pairs = [extract_page(h) for h in pdf["html"]]
            out = pdf[names].copy()
            out[text_col] = [p[0] for p in pairs]
            out["images"] = [p[1] for p in pairs]
            yield out

    return pages.mapInPandas(run, schema=out_schema)


def _with_ids(chunks: DataFrame) -> DataFrame:
    """+ content_hash = sha256(text) and point_id =
    md5(url_contenthash_chunkindex) (file_chunking_manager.py:376-387)."""
    return chunks.withColumn("content_hash", content_hash("text")).withColumn(
        "point_id", point_id("url", "content_hash", "chunk_index"))


def _chunk_with(chunker, extracted: DataFrame, text_col: str,
                chunk_size: int) -> DataFrame:
    """The body of chunk_stage/smart_chunk_stage; ``chunker`` is the
    kernel.chunker function that cuts one text into windows."""

    @F.pandas_udf(ArrayType(CHUNK_STRUCT))
    def chunk_udf(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [
                [
                    (
                        c["text"], c["chunk_index"], c["total_chunks"],
                        c["size"], c["line_start"], c["line_end"],
                    )
                    for c in chunker(t or "", chunk_size)
                ]
                for t in texts
            ]
        )

    return _with_ids(
        extracted.select(
            "url", "warc_ts", "lang",
            F.explode(chunk_udf(F.col(text_col))).alias("c"),
        )
        .select("url", "warc_ts", "lang", "c.*")
    )


def chunk_stage(
    extracted: DataFrame,
    text_col: str = "text_extracted",
    chunk_size: int = 1000,
) -> DataFrame:
    """extracted pages -> chunks table (one row per window).

    chunks(url, warc_ts, lang, chunk_index, total_chunks, size,
           line_start, line_end, text, content_hash, point_id)
    """
    from ..kernel.chunker import chunk_text

    return _chunk_with(chunk_text, extracted, text_col, chunk_size)


def build_chunks_fused(pages: DataFrame) -> DataFrame:
    """Fused extract + chunk + embed: html -> embedded chunk rows in ONE
    mapInPandas pass (one Arrow round trip instead of three; html and
    the full extracted text never re-cross the JVM/Python boundary —
    a staged extract -> chunk -> embed chain spent ~10x the kernel cost
    on Arrow serialization of full page payloads).

    Adds ``embedding`` (unit-norm array<float>) and ``vbucket``, the
    2-bit-quantized vector bucket used as a partition column (K3 in
    SURVEY.md §2.5)."""
    out_schema = StructType(
        [
            StructField("url", StringType()),
            StructField("warc_ts",
                        pages.schema["warc_ts"].dataType),
            StructField("lang", StringType()),
        ]
        + list(CHUNK_STRUCT.fields)
        + [
            StructField("embedding", ArrayType(FloatType())),
            StructField("vbucket", StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernel.chunker import chunk_text
        from ..kernel.embed import bucket_of, embed_text
        from ..kernel.extract import extract_text

        for pdf in batches:
            rows = []
            for url, ts, lang, html in zip(
                pdf["url"], pdf["warc_ts"], pdf["lang"], pdf["html"]
            ):
                text = extract_text(html)
                for c in chunk_text(text, 1000):
                    v = embed_text(c["text"])
                    rows.append((
                        url, ts, lang, c["text"], c["chunk_index"],
                        c["total_chunks"], c["size"], c["line_start"],
                        c["line_end"], v.tolist(), bucket_of(v),
                    ))
            yield pd.DataFrame(
                rows,
                columns=["url", "warc_ts", "lang", "text", "chunk_index",
                         "total_chunks", "size", "line_start", "line_end",
                         "embedding", "vbucket"],
            )

    return _with_ids(pages.select("url", "warc_ts", "lang", "html")
                     .mapInPandas(run, schema=out_schema))


def incremental_anti_join(
    new_chunks: DataFrame, existing_chunks: DataFrame
) -> DataFrame:
    """Embedding-reuse cache (E3): only chunks whose (url, chunk_index,
    content_hash) is NOT already stored need embedding — the Spark form
    of file_chunking_manager.py:508-558's per-file cache check."""
    return new_chunks.join(
        existing_chunks.select("url", "chunk_index", "content_hash"),
        on=["url", "chunk_index", "content_hash"],
        how="left_anti",
    )


def smart_chunk_stage(
    extracted: DataFrame,
    text_col: str = "text_extracted",
    chunk_size: int = 1000,
) -> DataFrame:
    """P2 legacy smart chunker as a stage — same row shape as
    chunk_stage but line-aware greedy packing + fragment merge
    (kernel.chunker.smart_chunk_text; ref indexing/chunker.py:21-126,
    773-814). Kept for parity with the reference's deprecated-but-
    callable path; the fixed-size chunker is the production default."""
    from ..kernel.chunker import smart_chunk_text

    return _chunk_with(smart_chunk_text, extracted, text_col, chunk_size)
