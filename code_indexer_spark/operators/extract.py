"""Extraction + chunking + embedding Spark stages (SURVEY.md §2.2-2.3).

All heavy per-row work runs in Arrow-batched row stages
(``util.arrow_rows``, one ``mapInPandas`` each) that wrap the
plain-Python kernels — no row-at-a-time Python UDFs, no driver-side
loops. Column-expression work (hashes, ids) stays JVM-side in
whole-stage codegen.

Reference parity:
- extract: deterministic HTML->text + <img src> kernel
  (image_extractor.py:420-440 semantics; encoding cascade
  fixed_size_chunker.py:264-277);
- chunk: fixed-size windows (fixed_size_chunker.py:159-238), one output
  row per window straight from the row stage (the index is a column of
  the row — no explode, no window);
- ids: point_id = md5(url + content-hash + chunk_index)
  (file_chunking_manager.py:376-380), content_hash = sha256(chunk text)
  (:386-387) — both as JVM-side F.md5/F.sha2 column expressions, not UDFs;
- embed: deterministic local embedding (kernel.embed) + the reference's
  2-bit-quantized vector bucket as a partition column
  (vector_quantizer.py:37-127).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType, FloatType, IntegerType, StringType, StructField, StructType,
)

from ..functions.columns import content_hash, point_id
from ..util import arrow_rows


def extract_stage(pages: DataFrame, text_col: str = "text_extracted") -> DataFrame:
    """pages(url, warc_ts, html, lang, ...) -> + text_extracted, images.

    A row stage (not a scalar UDF) so one pass yields both text and the
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
    html_at = names.index("html")

    def make_rows():
        from ..kernel.extract import extract_page

        return lambda *vals: [(*vals, *extract_page(vals[html_at]))]

    return arrow_rows(pages, names, out_schema, make_rows)


def _with_ids(chunks: DataFrame) -> DataFrame:
    """+ content_hash = sha256(text) and point_id =
    md5(url_contenthash_chunkindex) (file_chunking_manager.py:376-387)."""
    return chunks.withColumn("content_hash", content_hash("text")).withColumn(
        "point_id", point_id("url", "content_hash", "chunk_index"))


def _chunk_schema(df: DataFrame) -> StructType:
    """One row per window; warc_ts keeps ``df``'s type."""
    return StructType(
        [
            StructField("url", StringType()),
            StructField("warc_ts", df.schema["warc_ts"].dataType),
            StructField("lang", StringType()),
            StructField("text", StringType()),
            StructField("chunk_index", IntegerType()),
            StructField("total_chunks", IntegerType()),
            StructField("size", IntegerType()),
            StructField("line_start", IntegerType()),
            StructField("line_end", IntegerType()),
        ]
    )


def _chunk_rows(chunker, chunk_size: int):
    """The per-text chunk-row function every chunk stage shares:
    (url, warc_ts, lang, text) -> one ``_chunk_schema`` tuple per
    window ``chunker`` (a kernel.chunker function) cuts."""

    def rows(url, ts, lang, text):
        for c in chunker(text or "", chunk_size):
            yield (url, ts, lang, c["text"], c["chunk_index"],
                   c["total_chunks"], c["size"], c["line_start"],
                   c["line_end"])

    return rows


def _chunk_with(chunker, extracted: DataFrame, text_col: str,
                chunk_size: int) -> DataFrame:
    """The body of chunk_stage/smart_chunk_stage; ``chunker`` is the
    kernel.chunker function that cuts one text into windows."""
    return _with_ids(arrow_rows(
        extracted, ["url", "warc_ts", "lang", text_col],
        _chunk_schema(extracted), lambda: _chunk_rows(chunker, chunk_size)))


def chunk_stage(
    extracted: DataFrame,
    text_col: str = "text_extracted",
    chunk_size: int = 1000,
) -> DataFrame:
    """extracted pages -> chunks table (one row per window).

    chunks(url, warc_ts, lang, text, chunk_index, total_chunks, size,
           line_start, line_end, content_hash, point_id)
    """
    from ..kernel.chunker import chunk_text

    return _chunk_with(chunk_text, extracted, text_col, chunk_size)


def build_chunks_fused(pages: DataFrame) -> DataFrame:
    """Fused extract + chunk + embed: html -> embedded chunk rows in ONE
    Arrow pass (one round trip instead of three; html and the full
    extracted text never re-cross the JVM/Python boundary — a staged
    extract -> chunk -> embed chain spent ~10x the kernel cost on Arrow
    serialization of full page payloads).

    The chunk rows are chunk_stage's; this stage appends ``embedding``
    (unit-norm array<float>) and ``vbucket``, the 2-bit-quantized
    vector bucket used as a partition column (K3 in SURVEY.md §2.5)."""
    out_schema = _chunk_schema(pages) \
        .add("embedding", ArrayType(FloatType())).add("vbucket", StringType())

    def make_rows():
        from ..kernel.chunker import chunk_text
        from ..kernel.embed import bucket_of, embed_text
        from ..kernel.extract import extract_text

        chunk_rows = _chunk_rows(chunk_text, 1000)

        def rows(url, ts, lang, html):
            for r in chunk_rows(url, ts, lang, extract_text(html)):
                v = embed_text(r[3])
                yield (*r, v.tolist(), bucket_of(v))

        return rows

    return _with_ids(arrow_rows(pages, ["url", "warc_ts", "lang", "html"],
                                out_schema, make_rows))


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
