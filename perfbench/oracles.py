"""Plain-Python answers the benchmark checks the program's outputs against.

Each oracle recomputes a result from the seeded inputs without Spark:
the KG oracle from the program's kernels and ``kernel.canon`` (the same
construction as tests/test_triples_oracle.py), the corpus oracles from
the operators' documented definitions, and the search oracle as a numpy
brute-force ranking. No ``link_score`` or ``confidence`` value is
pinned: those depend on the CPU's floating-point path.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

# ---------------------------------------------------------------- KG build


def kg_oracle(kg_dir: str) -> dict:
    from code_indexer_spark.kernel.canon import canonical_map
    from code_indexer_spark.kernel.chunker import chunk_text
    from code_indexer_spark.kernel.nlp import (
        AliasIndex, extract_triples_from_text)

    pages = pq.read_table(f"{kg_dir}/pages.parquet",
                          columns=["url", "text"]).to_pylist()
    aliases = pq.read_table(f"{kg_dir}/alias_dict.parquet").to_pylist()
    ents = pq.read_table(f"{kg_dir}/entities.parquet").to_pylist()
    idx = AliasIndex([(a["alias"], a["entity_id"], a["entity_type"],
                       a["prior"], a["canonical_name"]) for a in aliases])
    cmap = canonical_map([(e["entity_id"], e["canonical_name"],
                           e["entity_type"]) for e in ents])
    # the kernel emits one row per extraction: a page that states the
    # same triple twice yields two rows (same content-addressed
    # triple_id), so the table's rows are a multiset, not a set
    rows, chunks = Counter(), 0
    for r in pages:
        text = r["text"] or ""
        chunks += len(chunk_text(text, 1000))
        for s, p, o, rid, _conf in extract_triples_from_text(text, idx):
            rows[(cmap.get(s, s), p, cmap.get(o, o), r["url"], rid)] += 1
    triples = {k[:4] for k in rows}
    return {
        "triples": triples,
        "triple_rows": rows,
        "edges": {(s, p, o) for s, p, o, _ in triples},
        "nodes": {cmap.get(e["entity_id"], e["entity_id"]) for e in ents},
        "chunks": chunks,
    }


def triple_id(subj: str, pred: str, obj: str, src_url: str) -> str:
    """sha2(concat_ws('|', subj, pred, obj, src_url), 256)."""
    return hashlib.sha256("|".join((subj, pred, obj, src_url))
                          .encode("utf-8")).hexdigest()


def multiset_diff(got: Counter, want: Counter) -> str:
    """'' if the multisets are equal, else how they differ."""
    if got == want:
        return ""
    extra, missing = got - want, want - got
    return (f"{sum(extra.values())} rows too many, "
            f"{sum(missing.values())} missing, e.g. "
            f"{next(iter(extra or missing))}")


def read_rows(path: str, columns: list[str]) -> list[tuple]:
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns)
    cols = [t.column(c).to_pylist() for c in columns]
    return list(zip(*cols))


def precision_recall(got: set, want: set) -> tuple[float, float]:
    inter = len(got & want)
    return inter / max(1, len(got)), inter / max(1, len(want))


# ------------------------------------------------------------ corpus ops

_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def tokens(text: str) -> list[str]:
    """tokens_expr: split(lower(trim(text)), '\\s+') minus empties."""
    return [t for t in _WS.split((text or "").lower()) if t]


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


_POPCOUNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)


def simhash_pairs(docs: list[tuple[int, str]], bits: int = 64,
                  max_hamming: int = 3) -> set[tuple[int, int, int]]:
    """All (id_a < id_b, hamming) with hamming <= max_hamming over the
    64-bit parity-of-md5-hex-char simhash, by brute force."""
    votes: dict[str, np.ndarray] = {}
    sigs = np.zeros(len(docs), dtype=np.uint64)
    ids = np.array([d for d, _ in docs], dtype=np.int64)
    weights = np.array([1 << j for j in range(bits)], dtype=np.uint64)
    for row, (_, text) in enumerate(docs):
        acc = np.zeros(bits, dtype=np.int64)
        for tok, n in Counter(tokens(text)).items():
            v = votes.get(tok)
            if v is None:
                hexes = _md5(tok) + _md5(tok + "|2")
                v = votes[tok] = np.array(
                    [1 if ord(hexes[j]) % 2 else -1 for j in range(bits)],
                    dtype=np.int64)
            acc += n * v
        sigs[row] = np.bitwise_or.reduce(weights[acc > 0],
                                         initial=np.uint64(0))
    out = set()
    for i in range(len(docs)):
        x = np.bitwise_xor(sigs[i + 1:], sigs[i])
        ham = np.zeros(len(x), dtype=np.int64)
        for shift in range(0, 64, 8):
            ham += _POPCOUNT8[((x >> np.uint64(shift))
                               & np.uint64(0xFF)).astype(np.int64)]
        for off in np.nonzero(ham <= max_hamming)[0]:
            a, b = int(ids[i]), int(ids[i + 1 + off])
            out.add((min(a, b), max(a, b), int(ham[off])))
    return out


def lsh_candidate_pairs(docs: list[tuple[int, str]], k: int = 3,
                        num_hashes: int = 16, bands: int = 8
                        ) -> set[tuple[int, int, int]]:
    """(id_a < id_b, bands shared) over seeded-md5 minhash bands of
    distinct k-word shingles."""
    rows = num_hashes // bands
    buckets: dict[tuple[int, str], list[int]] = defaultdict(list)
    for doc_id, text in docs:
        toks = tokens(text)
        if len(toks) >= k:
            sh = {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}
        else:
            sh = {" ".join(toks)}
        sh.discard("")
        if not sh:
            continue
        sig = [min(_md5(f"{s}|{x}") for x in sh) for s in range(num_hashes)]
        for b in range(bands):
            key = _md5("|".join(sig[b * rows:(b + 1) * rows]))
            buckets[(b, key)].append(doc_id)
    shared: Counter = Counter()
    for members in buckets.values():
        members.sort()
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                shared[(a, b)] += 1
    return {(a, b, n) for (a, b), n in shared.items()}


def cooccur_pmi(texts: list[str], window: int = 3, min_count: int = 5,
                k: int = 50) -> list[tuple[str, str, int, float]]:
    pair_counts: Counter = Counter()
    for text in texts:
        toks = tokens(text)
        for i, x in enumerate(toks):
            for y in toks[i + 1:i + 1 + window]:
                if x != y:
                    pair_counts[(min(x, y), max(x, y))] += 1
    uni: Counter = Counter()
    for (a, b), c in pair_counts.items():
        uni[a] += c
        uni[b] += c
    total = sum(pair_counts.values())
    scored = []
    for (a, b), c in pair_counts.items():
        if c < min_count:
            continue
        v = math.log((4.0 * float(total) * float(c))
                     / (float(uni[a]) * float(uni[b])))
        scored.append((a, b, c, math.floor(v * 1e6 + 0.5) / 1e6))
    scored.sort(key=lambda r: (-r[3], r[0], r[1]))
    return scored[:k]


def dsir_logweights(raw: list[tuple[int, str]], target: list[str],
                    bucket_hex: int = 3) -> dict[int, tuple[int, float]]:
    B = 16 ** bucket_hex

    def buckets(text):
        t = tokens(text)
        return [_md5(f"{a} {b}")[:bucket_hex] for a, b in zip(t, t[1:])]

    raw_b = {doc_id: buckets(text) for doc_id, text in raw}
    cr = Counter(b for bs in raw_b.values() for b in bs)
    ct = Counter(b for text in target for b in buckets(text))
    nr, nt = sum(cr.values()), sum(ct.values())
    lr = {b: math.floor(math.log(
        ((ct.get(b, 0) + 1) * float(nr + B)) / ((c + 1) * float(nt + B)))
        * 1e6 + 0.5) for b, c in cr.items()}
    return {doc_id: (len(bs), sum(lr[b] for b in bs) / 1e6)
            for doc_id, bs in raw_b.items()}


# ------------------------------------------------------------------ search


def semantic_topk_check(chunks_dir: str, query: str, k: int,
                        lang: str | None, got: list[tuple]) -> str | None:
    """Check an exact-profile answer against a numpy brute-force ranking
    over the chunks parquet. ``got`` is [(url, chunk_index, score)].
    Returns None when it matches, else a reason. Scores are rounded to
    4 places by the program, so rows within 1e-4 of the k-th score may
    legitimately swap; every row clearly above it must be returned."""
    from code_indexer_spark.kernel.embed import embed_text

    t = ds.dataset(chunks_dir, format="parquet", partitioning="hive") \
        .to_table(columns=["url", "chunk_index", "lang", "embedding"])
    urls = t.column("url").to_pylist()
    cidx = t.column("chunk_index").to_pylist()
    langs = t.column("lang").to_pylist()
    emb = np.array(t.column("embedding").to_pylist(), dtype=np.float32)
    q = embed_text(query).astype(np.float64)
    norms = np.sqrt((emb * emb).astype(np.float64).sum(axis=1))
    with np.errstate(invalid="ignore", divide="ignore"):
        scores = (emb.astype(np.float64) @ q) / (norms * np.sqrt(q @ q))
    keep = [i for i in range(len(urls))
            if (lang is None or langs[i] == lang) and not np.isnan(scores[i])]
    ranked = sorted(keep, key=lambda i: (-scores[i], urls[i], cidx[i]))
    want_n = min(k, len(ranked))
    if len(got) != want_n:
        return f"{len(got)} rows, brute force has {want_n}"
    if not got:
        return None
    kth = scores[ranked[want_n - 1]]
    by_key = {(urls[i], cidx[i]): scores[i] for i in keep}
    got_keys = {(u, c) for u, c, _ in got}
    for u, c, s in got:
        if (u, c) not in by_key:
            return f"row {(u, c)} not eligible"
        if abs(by_key[(u, c)] - s) > 1.5e-4:
            return f"score {s} != brute force {by_key[(u, c)]:.6f}"
        if by_key[(u, c)] < kth - 2e-4:
            return f"row {(u, c)} ranks below the k-th score"
    for i in ranked[:want_n]:
        if scores[i] > kth + 2e-4 and (urls[i], cidx[i]) not in got_keys:
            return f"missing {(urls[i], cidx[i])}"
    return None
