"""Deterministic, local, network-free embedding kernel.

The reference embeds chunks via external providers (VoyageAI/Cohere —
``/root/reference/src/code_indexer/services/voyage_ai.py:786-947``).
External services are out of scope here, so the substitution is a
deterministic feature-hash embedding followed by a seeded Gaussian
random projection — the *same mathematical device* the reference itself
uses for its vector-space partitioning (Johnson–Lindenstrauss projection
with ``seed = hash of dims``, scaled ``1/sqrt(out_dim)``:
``/root/reference/src/code_indexer/storage/projection_matrix_manager.py:26-57``).

Determinism rules (SURVEY.md §7.3 item 2):
- all row-local math in float32 with a fixed op order;
- token hashing via md5 (stable across processes, unlike Python hash());
- the projection matrix is derived from ``np.random.default_rng(seed)``
  with a fixed seed, generated identically on driver and executors.

DO NOT replace with a real model without updating the oracle — the
P/R = 1.0 guarantee relies on oracle and pipeline sharing this code.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np

EMBED_DIM = 64
_HASH_DIM = 1024
_SEED = 42
_TOKEN_RE = re.compile(r"[a-z0-9]+")

_matrix_cache: dict[tuple[int, int, int], np.ndarray] = {}


def projection_matrix(
    in_dim: int = _HASH_DIM, out_dim: int = EMBED_DIM, seed: int = _SEED
) -> np.ndarray:
    """Seeded Gaussian JL projection, scaled 1/sqrt(out_dim) —
    same construction as projection_matrix_manager.py:26-57."""
    key = (in_dim, out_dim, seed)
    if key not in _matrix_cache:
        rng = np.random.default_rng(seed)
        m = rng.standard_normal((in_dim, out_dim)) / np.sqrt(out_dim)
        _matrix_cache[key] = m.astype(np.float32)
    return _matrix_cache[key]


_bucket_cache: dict[str, tuple[int, float]] = {}
_BUCKET_CACHE_MAX = 1_000_000  # bound per-worker memory at web scale


def _token_bucket(token: str) -> tuple[int, float]:
    """(bucket, sign) from md5 — stable feature hashing. Memoized per
    worker: natural-language token frequency is Zipfian, so the cache
    hit rate is high and the md5 disappears from the hot loop (pure
    function, so caching cannot affect determinism)."""
    v = _bucket_cache.get(token)
    if v is None:
        d = hashlib.md5(token.encode("utf-8")).digest()
        v = (int.from_bytes(d[:4], "big") % _HASH_DIM,
             1.0 if d[4] & 1 else -1.0)
        if len(_bucket_cache) < _BUCKET_CACHE_MAX:
            _bucket_cache[token] = v
    return v


def tokenize(text: str) -> list[str]:
    return _TOKEN_RE.findall(text.lower())


def embed_text(text: str) -> np.ndarray:
    """text -> unit-norm float32 vector of EMBED_DIM.

    Row-local, fixed reduction: bag-of-hashed-tokens -> JL projection ->
    L2 normalize. The signed projection rows are gathered into one
    (n_tokens, EMBED_DIM) float32 block and reduced with numpy's
    pairwise summation — a FIXED, pure-C reduction tree for a given
    token sequence, so the output is identical wherever it runs (same
    determinism contract as the previous sequential loop, ~10x faster;
    the values differ from the loop's left-fold in the last float32
    ulp, which is fine: the kernel itself is the spec on both the
    pipeline and oracle sides).
    """
    assert_embed_golden()  # once per process; no-op after first call
    mat = projection_matrix()
    toks = tokenize(text)
    if not toks:
        return np.zeros(EMBED_DIM, dtype=np.float32)
    idx = np.empty(len(toks), dtype=np.int64)
    signs = np.empty(len(toks), dtype=np.float32)
    for j, tok in enumerate(toks):
        b, s = _token_bucket(tok)
        idx[j] = b
        signs[j] = s
    vec = (mat[idx] * signs[:, None]).sum(axis=0, dtype=np.float32)
    norm = np.float32(np.sqrt(np.add.reduce(vec * vec, dtype=np.float32)))
    if norm > 0:
        vec = vec / norm
    return vec.astype(np.float32)


# Golden pin for embed_text's determinism contract: the reduction above
# leans on numpy's pairwise-sum blocking, an implementation detail that
# is stable in practice but not API-guaranteed across numpy versions or
# builds. A silent change would re-embed every vector differently, so
# the exact 256 output bytes of a fixed probe are pinned and checked
# once per PROCESS on the first embed_text call — that covers every
# executor's Python worker (where the Arrow-UDF embedding actually
# runs, so a driver/executor numpy skew fails too), and
# session.get_spark additionally runs it at driver startup for
# fail-fast — numpy drift errors loudly, up front, instead of as a
# week-later index mismatch.
_GOLDEN_PROBE = "the quick brown fox jumps over the lazy dog 42"
_GOLDEN_MD5 = "dabdeaa3ba5945571b7b06ef8e7550cc"
# cosine(probe, _COSINE_PROBE): a pair whose BLAS sdot result differs
# in the last bit from the fixed-order reduction on AVX-512 kernels, so
# a cosine that slips back onto BLAS fails here too
_COSINE_PROBE = "the lazy dog sleeps"
_GOLDEN_COSINE = 0.39033597707748413
_golden_checked = False
_golden_error: Exception | None = None


def assert_embed_golden() -> None:
    """Raise if embed_text's bytes drifted from the pinned golden.
    The probe embeds at most once per process (flag set before the
    internal embed_text call so it cannot recurse) — but a detected
    drift is LATCHED and re-raised on EVERY later call: a caller that
    catches the first error must not be handed silently-drifted vectors
    on retry (the exact mismatch the pin exists to prevent)."""
    global _golden_checked, _golden_error
    if _golden_checked:
        if _golden_error is not None:
            raise _golden_error
        return
    _golden_checked = True
    probe = embed_text(_GOLDEN_PROBE)
    got = hashlib.md5(probe.tobytes()).hexdigest()
    cos = cosine(probe, embed_text(_COSINE_PROBE))
    if got != _GOLDEN_MD5 or cos != _GOLDEN_COSINE:
        import numpy

        _golden_error = RuntimeError(
            f"embed_text determinism drift: golden md5 {_GOLDEN_MD5} "
            f"!= {got} or golden cosine {_GOLDEN_COSINE!r} != {cos!r} "
            f"(numpy {numpy.__version__}) — this process's "
            "numpy reduction order differs from the pinned contract; "
            "embeddings produced here would not match existing indexes")
        raise _golden_error


def cosine(a: np.ndarray, b: np.ndarray) -> float:
    """Cosine for unit vectors = dot product; float32 accumulate.

    The dot product is numpy's pairwise ``add.reduce``, not ``np.dot``:
    BLAS ``sdot`` picks its kernel (and so its summation order) per CPU,
    so its result, and every link score built on it, can differ in the
    last bit between hosts. No kernel in this package may call BLAS
    (tests/test_kernel_determinism.py enforces it).

    The astype is a no-op (skipped) when inputs are already float32 —
    the hot-path callers always pass embed_text outputs, and the copy
    was ~40% of link()'s rerank cost."""
    if a.dtype != np.float32:
        a = a.astype(np.float32)
    if b.dtype != np.float32:
        b = b.astype(np.float32)
    return float(np.add.reduce(a * b, dtype=np.float32))


# --- vector-space bucketing (the reference's partition scheme) ------------
# The reference 2-bit-quantizes the projected vector into a hex directory
# prefix that IS its storage partitioning (vector_quantizer.py:37-127,
# fixed range [-2, 2]; rationale docs/architecture.md:336-341). We reuse
# the idea as the chunks table's clustering column: the first _BUCKET_DIMS
# embedding dims -> 2 bits each -> hex string.

_BUCKET_DIMS = 8  # 16 bits -> 4 hex chars; 256 reachable (bucket_of)
_QUANT_LO, _QUANT_HI = -2.0, 2.0


def bucket_of(vec: np.ndarray) -> str:
    """2-bit quantization prefix of a vector -> 4-hex-char bucket key.

    Of the 65,536 keys only 256 are reachable from embed_text: a unit
    (or zero) vector's components lie in [-1, 1], which quantize to
    level 1 ([-1, 0)) or 2 ([0, 1)) — level 3 needs a component of
    exactly 1.0 — so each hex digit (two dims) is one of 5, 6, 9, a.
    The kg_build input uses 208 of them."""
    out = 0
    for i in range(_BUCKET_DIMS):
        x = float(vec[i])
        # fixed-range 2-bit quantize, mirroring vector_quantizer.py:58-70
        q = int((min(max(x, _QUANT_LO), _QUANT_HI) - _QUANT_LO)
                / (_QUANT_HI - _QUANT_LO) * 4)
        q = min(q, 3)
        out = (out << 2) | q
    return format(out, "04x")
