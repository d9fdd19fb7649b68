"""Seeded benchmark inputs, written under the benchmark's work directory.

Everything here is a function of ``seed``: the same seed gives the same
bytes. Pages, the alias dictionary and entities come from the program's
own generator (``code_indexer_spark.fixtures.gen.generate``); the corpus
documents, planted near-duplicates, the incremental delta and the query
mix are derived from them with ``random.Random(seed)``.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

KG_PAGES = 2000
CORPUS_PAGES = 1000
# planted near-duplicate documents in the corpus: case and whitespace
# variants tokenize identically, so every dedup operator must recall them
PLANTED_DUPES = 40
# incremental delta over KG pages (shares of pages)
DELTA_ADDED, DELTA_CHANGED, DELTA_DELETED = 0.05, 0.05, 0.01


def generate_pages(kg_dir: str, n_pages: int, seed: int) -> None:
    from code_indexer_spark.fixtures.gen import generate

    generate(kg_dir, n_pages, seed=seed)


def fingerprint(kg_dir: str, extra_files: tuple[str, ...] = ()) -> str:
    """sha256 over the pages.html column and the alias rows (and any
    extra input files), so two runs can prove they read the same bytes."""
    h = hashlib.sha256()
    for raw in pq.read_table(f"{kg_dir}/pages.parquet",
                             columns=["html"]).column("html").to_pylist():
        h.update(len(raw).to_bytes(8, "little"))
        h.update(raw)
    for row in pq.read_table(f"{kg_dir}/alias_dict.parquet").to_pylist():
        h.update(json.dumps(row, sort_keys=True).encode())
    for name in extra_files:
        with open(os.path.join(kg_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _variant(text: str) -> str:
    """Same tokens, different bytes: upper-cased, words double-spaced."""
    return "  ".join(text.upper().split(" "))


def write_corpus(kg_dir: str, seed: int) -> list[tuple[int, int]]:
    """docs.parquet(doc_id, text) = every page's text plus planted
    variants of PLANTED_DUPES seeded pages; returns the planted pairs."""
    texts = pq.read_table(f"{kg_dir}/pages.parquet",
                          columns=["text"]).column("text").to_pylist()
    rng = random.Random(seed)
    ids = list(range(len(texts)))
    docs = list(texts)
    planted = []
    for src in sorted(rng.sample(ids, PLANTED_DUPES)):
        planted.append((src, len(docs)))
        docs.append(_variant(texts[src]))
    pq.write_table(pa.table({"doc_id": pa.array(range(len(docs)), pa.int64()),
                             "text": docs}),
                   f"{kg_dir}/docs.parquet")
    return planted


def make_delta(kg_dir: str, seed: int) -> dict:
    """The incremental run's snapshot: which urls the prior index lacks
    (added), holds with a stale hash (changed), or holds although they
    are gone (deleted)."""
    urls = pq.read_table(f"{kg_dir}/pages.parquet",
                         columns=["url"]).column("url").to_pylist()
    rng = random.Random(seed + 7)
    shuffled = rng.sample(urls, len(urls))
    n_add = int(len(urls) * DELTA_ADDED)
    n_chg = int(len(urls) * DELTA_CHANGED)
    n_del = max(1, int(len(urls) * DELTA_DELETED))
    return {
        "added": sorted(shuffled[:n_add]),
        "changed": sorted(shuffled[n_add:n_add + n_chg]),
        "deleted": [f"https://gone{seed}.example/p/{i}" for i in range(n_del)],
    }


QUERY_WORDS = ("growth", "markets", "regional", "construction", "planning",
               "observers", "infrastructure", "community", "seasonal",
               "district", "reports", "projects")


def query_mix(kg_dir: str, seed: int, n: int) -> list[dict]:
    """A seeded closed-loop mix of semantic (exact/fast, with and without
    the lang filter, k 10/50), keyword (term and phrase) and hybrid
    queries. Entity names come from the seeded alias dictionary."""
    names = sorted({r for r in pq.read_table(
        f"{kg_dir}/entities.parquet",
        columns=["canonical_name"]).column("canonical_name").to_pylist()})
    rng = random.Random(seed + 11)
    kinds = ("semantic_exact", "semantic_exact_lang", "semantic_fast",
             "semantic_fast_lang", "keyword_term", "keyword_phrase",
             "hybrid")
    out = []
    for i in range(n):
        kind = kinds[i % len(kinds)]
        if kind == "keyword_term":
            text = rng.choice(QUERY_WORDS)
        elif kind == "keyword_phrase":
            a = rng.randrange(len(QUERY_WORDS) - 1)
            text = f"{QUERY_WORDS[a]} {QUERY_WORDS[a + 1]}"
        else:
            text = f"{rng.choice(names)} {rng.choice(QUERY_WORDS)}"
        out.append({"kind": kind, "text": text, "k": rng.choice((10, 50))})
    return out
