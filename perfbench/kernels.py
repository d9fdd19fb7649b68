"""Per-kernel timings, taken by calling the pure-Python kernels directly.

The pages run through the same kernel sequence the fused Spark stages
run (extract -> rules/link/embed for triples; chunk -> embed for chunks;
chunk -> detect_mentions for mentions), single-threaded in this process.
Calls are counted and timed by wrapping the kernel entry points for the
duration of the measurement only.
"""

from __future__ import annotations

import contextlib
import time

import pyarrow.parquet as pq

KERNEL_PAGES = 600


class _Meter:
    def __init__(self):
        self.calls = 0
        self.ns = 0

    def wrap(self, fn):
        def timed(*args, **kwargs):
            t = time.perf_counter_ns()
            try:
                return fn(*args, **kwargs)
            finally:
                self.ns += time.perf_counter_ns() - t
                self.calls += 1
        return timed


@contextlib.contextmanager
def _patched(module, name, meter):
    orig = getattr(module, name)
    setattr(module, name, meter.wrap(orig))
    try:
        yield
    finally:
        setattr(module, name, orig)


def _us(ns: int, n: int) -> float:
    return ns / 1e3 / max(1, n)


def measure(kg_dir: str, n_pages: int = KERNEL_PAGES) -> dict:
    from code_indexer_spark.kernel import embed, nlp
    from code_indexer_spark.kernel.chunker import chunk_text
    from code_indexer_spark.kernel.extract import extract_text

    pages = pq.read_table(f"{kg_dir}/pages.parquet",
                          columns=["html"]).slice(0, n_pages) \
        .column("html").to_pylist()
    aliases = pq.read_table(f"{kg_dir}/alias_dict.parquet").to_pylist()
    idx = nlp.AliasIndex([(a["alias"], a["entity_id"], a["entity_type"],
                           a["prior"], a["canonical_name"])
                          for a in aliases])
    n = len(pages)

    t = time.perf_counter_ns()
    texts = [extract_text(h) for h in pages]
    extract_ns = time.perf_counter_ns() - t

    t = time.perf_counter_ns()
    chunk_lists = [chunk_text(x, 1000) for x in texts]
    chunk_ns = time.perf_counter_ns() - t
    chunks = [c["text"] for cl in chunk_lists for c in cl]

    t = time.perf_counter_ns()
    for x in texts:
        for sent in nlp.split_sentences(x):
            nlp.match_rules(sent)
    rules_ns = time.perf_counter_ns() - t

    t = time.perf_counter_ns()
    for c in chunks:
        idx.detect_mentions(c)
    detect_ns = time.perf_counter_ns() - t

    # the triples kernel end to end, with link and embed calls metered;
    # then the chunk embeddings the chunks stage computes
    link, emb = _Meter(), _Meter()
    idx.link = link.wrap(idx.link)
    with _patched(nlp, "embed_text", emb):
        for x in texts:
            nlp.extract_triples_from_text(x, idx)
    with _patched(embed, "embed_text", emb):
        for c in chunks:
            embed.embed_text(c)
    return {
        "kernel.extract.us_per_page": _us(extract_ns, n),
        "kernel.chunker.us_per_page": _us(chunk_ns, n),
        "kernel.nlp.rules_us_per_page": _us(rules_ns, n),
        "kernel.nlp.link_us_per_call": _us(link.ns, link.calls),
        "kernel.nlp.link_calls_per_page": link.calls / max(1, n),
        "kernel.nlp.detect_mentions_us_per_chunk": _us(detect_ns,
                                                       len(chunks)),
        "kernel.embed.us_per_call": _us(emb.ns, emb.calls),
        "kernel.embed.calls_per_page": emb.calls / max(1, n),
        "kernel.pages": n,
    }


def calibrate_ms() -> float:
    """A fixed pure-Python probe (no program code): its wall time tracks
    host speed, so drift within and across runs shows."""
    t = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc = (acc * 31 + i) % 1_000_003
    return (time.perf_counter() - t) * 1e3
