"""Entity canonicalization semantics (plain-Python oracle side).

Duplicate entities (same real-world entity registered under several
entity_ids with name variants) are merged when, within the same
entity_type, their normalized canonical names
(a) share their FIRST TOKEN (variants preserve it; e.g. two people who
    merely share a surname differ in it — keeps siblings apart),
(b) share at least one MinHash LSH band (kernel.hashes — deterministic,
    portable banding), AND
(c) have exact char-3-shingle Jaccard >= JACCARD_THRESHOLD.

The first token participates in the LSH bucket key, so at scale buckets
stay small (type × first-token × band).

Connected components over those match edges give the canonical mapping;
the canonical id is the lexicographically smallest entity_id in the
component. operators/canonicalize calls canonical_map directly for
entity tables of at most SMALL_ENTITIES rows; above that it computes the
same edges with the same kernel hashes in Spark and runs
large-star/small-star — identical result by construction, verified in
tests.

Reference analog: content-id dedup + reconcile
(``/root/reference/docs/algorithms.md:100-143``).
"""

from __future__ import annotations

from .hashes import (
    char_shingles, jaccard, lsh_bands, md5_hex, minhash_signature,
)
from .nlp import normalize_surface

JACCARD_THRESHOLD = 0.5
SHINGLE_K = 3
NUM_HASHES = 32
BANDS = 16


def name_key(name: str) -> str:
    return normalize_surface(name)


def name_shingles(name: str) -> set[str]:
    return char_shingles(name_key(name), SHINGLE_K)


def name_bands(name: str) -> list[tuple[int, str]]:
    return lsh_bands(minhash_signature(name_shingles(name), NUM_HASHES), BANDS)


def first_token(name: str) -> str:
    key = name_key(name)
    return key.split(" ", 1)[0] if key else ""


def candidate_pairs(
    entities: list[tuple[str, str, str]]
) -> set[tuple[str, str]]:
    """entities: (entity_id, canonical_name, entity_type) -> unordered
    candidate pairs sharing (entity_type, first_token, band_id, band_key).

    Each distinct shingle's NUM_HASHES seeded digests are computed once
    per call; a name's signature is their element-wise min, the value
    minhash_signature gives. The memo lives only for this call."""
    digests: dict[str, list[str]] = {}

    def signature(shingles: set[str]) -> list[str]:
        if not shingles:
            return [""] * NUM_HASHES
        for s in shingles:
            if s not in digests:
                digests[s] = [md5_hex(f"{i}|{s}") for i in range(NUM_HASHES)]
        return list(map(min, zip(*(digests[s] for s in shingles))))

    buckets: dict[tuple[str, str, int, str], list[str]] = {}
    for eid, name, etype in entities:
        tok0 = first_token(name)
        for band_id, band_key in lsh_bands(signature(name_shingles(name)),
                                           BANDS):
            buckets.setdefault((etype, tok0, band_id, band_key), []).append(eid)
    pairs: set[tuple[str, str]] = set()
    for ids in buckets.values():
        if len(ids) < 2:
            continue
        ids = sorted(set(ids))
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                pairs.add((ids[i], ids[j]))
    return pairs


def verified_edges(
    entities: list[tuple[str, str, str]],
    pairs: set[tuple[str, str]] | None = None,
) -> list[tuple[str, str]]:
    """Candidate pairs filtered by exact shingle Jaccard >= threshold."""
    if pairs is None:
        pairs = candidate_pairs(entities)
    sh = {eid: name_shingles(name) for eid, name, _ in entities}
    return sorted(
        (a, b) for a, b in pairs if jaccard(sh[a], sh[b]) >= JACCARD_THRESHOLD
    )


def connected_components(edges: list[tuple[str, str]]) -> dict[str, str]:
    """Union-find; returns node -> min-id-of-component for touched nodes."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            # keep the lexicographically smaller id as root
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in parent} | {
        n: find(n) for e in edges for n in e
    }


def canonical_map(entities: list[tuple[str, str, str]]) -> dict[str, str]:
    """entity_id -> canonical entity_id (identity for singletons)."""
    comp = connected_components(verified_edges(entities))
    return {eid: comp.get(eid, eid) for eid, _, _ in entities}
