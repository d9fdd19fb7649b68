"""Read-side query plans — the reference's `cidx query` surface
(SURVEY.md §3.2) as parameterized DataFrame jobs over the chunks table.

Lifecycle parity with filesystem_vector_store.search (:2630-3117):

  query text -> deterministic query embedding (kernel.embed — the
  coalesced query-embed of :2829-2853, exact-key semantics per the
  empirical study) -> ANN candidates (accuracy profile) -> payload
  filters (operators.filters grammar) -> score threshold -> top-k ->
  snippet/context extraction.

Accuracy profiles map the reference's HNSW ef knob
(`ef {fast:20, balanced:50, high:200}`, server/services/
search_service.py:466-467) to retrieval strategies:
  - 'high'     -> exact brute-force cosine (the oracle path);
  - 'balanced' -> IVF probe (operators.similarity.ivf_topk);
  - 'fast'     -> LSH bucket match (single-bucket candidate set).
Filtered approximate profiles over-fetch by the reference's k-banded
multipliers and escalate to exact on starvation — see semantic_search's
docstring (prefetch_limit, filesystem_vector_store.py:2968-2970;
band multipliers, temporal_search_service.py:265-293).

`hybrid_search` is the FTS ∥ semantic RRF merge
(server/query/semantic_query_manager.py:2592-2660, A2 in SURVEY §2.6).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..functions.columns import snippet as snippet_expr
from ..kernel.embed import embed_text
from ..operators.filters import build_filter, detect_filter_conflicts
from ..operators.fusion import fuse_rrf
from ..operators.similarity import lsh_bucket_expr, rounded_cosine


def _query_vec_lit(query_text: str):
    """Embed on the driver (one row — the 2-worker load∥embed trick of
    :2913-2927 is moot under Spark) and inline as a literal array, so
    the scoring expression stays in whole-stage codegen."""
    v = embed_text(query_text)
    return F.array(*[F.lit(float(x)) for x in v])


def semantic_search(
    chunks: DataFrame,
    query_text: str,
    k: int = 10,
    filter_spec: dict | None = None,
    accuracy: str = "high",
    score_threshold: float | None = None,
    vec_col: str = "embedding",
    adaptive: bool = True,
) -> DataFrame:
    """chunks(url, chunk_index, text, embedding, vbucket, ...) ->
    (url, chunk_index, score, text) top-k for one query string.

    Filtered approximate search over-fetches (T3): when a payload
    filter or score threshold is combined with the 'fast'/'balanced'
    profiles, the candidate net widens — 'fast' probes Hamming-2
    instead of Hamming-1 buckets, 'balanced' widens the vbucket prefix
    family 16x — for EVERY k, since the reference's k-banded
    multiplier is at least 5x at all k (<=5 -> 20x, <=10 -> 15x,
    <=20 -> 10x, else 5x — temporal_search_service.py:265-293;
    prefetch_limit filesystem_vector_store.py:2968-2970). If even the
    widened net yields fewer than k surviving rows, ``adaptive=True``
    falls back to the exact 'high' scan — a selective filter can never
    silently starve the top-k.

    Contract note: with ``adaptive=True`` (the default) a FILTERED
    approximate search is a query-time API — it executes eagerly and
    returns a materialized, point-in-time <=k-row result (so the
    common enough-rows case pays the approximate job exactly once,
    and the starvation check is possible at all). It is NOT a lazy
    view over the chunks table; callers composing plans (or rendering
    them with explain) should pass ``adaptive=False`` or use the
    exact 'high' profile, both of which stay fully lazy."""
    if filter_spec:
        conflicts = detect_filter_conflicts(filter_spec)
        if conflicts:
            raise ValueError(f"contradictory filter: {conflicts}")

    has_filter = bool(filter_spec) or score_threshold is not None
    # every filtered approximate query widens (the band multiplier is
    # >= 5x for ALL k, so the net is always Hamming-2 / the 16x prefix
    # family when a filter is present); the k-band governs the
    # reference's candidate budget, and the adaptive fallback below
    # keeps the k-row guarantee where even the widened net starves
    widen = has_filter
    qv = _query_vec_lit(query_text)
    cand = chunks
    if accuracy == "fast":
        # LSH multi-probe: the query's bucket plus its 8 one-bit-flip
        # neighbors (same Hamming-1 policy as operators.similarity.
        # lsh_topk) — near-boundary queries keep their recall. The probe
        # ids are driver-side literals, so the filter is a pushable isin.
        qb = query_bucket(query_text)
        probes = [qb] + [qb ^ (1 << i) for i in range(8)]
        if widen:
            # over-fetch: Hamming-2 shell too (37 of 256 buckets) —
            # still a pushable isin of driver literals
            probes += [qb ^ (1 << i) ^ (1 << j)
                       for i in range(8) for j in range(i + 1, 8)]
        cand = cand.withColumn("_b", lsh_bucket_expr(vec_col)).filter(
            F.col("_b").isin(probes))
    elif accuracy == "balanced":
        # IVF-lite: restrict to the query's vbucket prefix family
        # (first 2 hex chars of the 2-bit quantization = coarse cell;
        # 1 char under filtered over-fetch = 16x wider family)
        from ..kernel.embed import bucket_of

        qb = bucket_of(embed_text(query_text))
        cand = cand.filter(F.col("vbucket").startswith(
            qb[:1] if widen else qb[:2]))
    # 'high': full scan (exact)

    scored = cand.withColumn("score", rounded_cosine(F.col(vec_col), qv))
    if score_threshold is not None:
        scored = scored.filter(F.col("score") >= score_threshold)
    if filter_spec:
        scored = scored.filter(build_filter(filter_spec))
    # orderBy+limit compiles to TakeOrderedAndProject: per-partition
    # top-k on the map side, merge of k-row heaps on the driver — never
    # a single-partition global sort. (A row_number() window with no
    # partitionBy would funnel every scored row through ONE task; the
    # reference's prefetch_limit over-fetch is subsumed because filters
    # already ran above, so the exact top-k IS the answer.)
    topk = (
        scored.orderBy(F.desc("score"), F.asc("url"), F.asc("chunk_index"))
        .limit(k)
        .select("url", "chunk_index", "score", "text")
    )
    if adaptive and has_filter and accuracy != "high":
        # bounded driver materialization (<= k rows by construction):
        # detect candidate-set starvation and escalate to the exact
        # scan, like the reference's retry-wider ladder. The collected
        # rows are re-wrapped so the common (enough-rows) case runs the
        # approximate job exactly once.
        rows = topk.collect()
        if len(rows) < k:
            return semantic_search(
                chunks, query_text, k=k, filter_spec=filter_spec,
                accuracy="high", score_threshold=score_threshold,
                vec_col=vec_col, adaptive=False)
        return chunks.sparkSession.createDataFrame(rows, schema=topk.schema)
    return topk


def query_bucket(query_text: str) -> int:
    """LSH bucket of the query embedding, computed ON THE DRIVER.

    The values are already driver-side (the query embedding is one
    vector), so launching a Spark job to evaluate the bucket expression
    — as this used to — paid a job, a second embed, and a duplicated
    copy of lsh_bucket_expr's plane loop for pure scalar math. The fold
    below is the same left-to-right double accumulation the JVM
    aggregate performs (Python floats ARE IEEE doubles), so the bucket
    is bit-identical to lsh_bucket_expr evaluated on the same vector."""
    from ..operators.similarity import N_PLANES, _hyperplane_weights

    v = [float(x) for x in embed_text(query_text)]
    weights = _hyperplane_weights(N_PLANES, len(v))
    out = 0
    for p in range(N_PLANES):
        acc = 0.0
        for x, w in zip(v, weights[p]):
            acc += x * w
        out = (out << 1) | (1 if acc > 0 else 0)
    return out


def keyword_search(
    chunks: DataFrame, query_text: str, k: int = 10,
) -> DataFrame:
    """FTS analog over the P9 identifiers field plus raw text.

    Single-term queries rank by TOKEN frequency on the identifiers
    array (the tokenized FTS field the reference indexes —
    tantivy_index_manager.py:217-241, fed by smart_indexer.py:1309):
    a token whose punctuation-trimmed lowercase form equals the query
    counts 1.0; raw substring hits contribute only a sub-unit
    tie-break term tf/(1+tf) < 1, so any identifier-token hit outranks
    every substring-only hit while substring matches (plurals,
    compounds) still surface when no token matches. Phrase queries
    (embedded whitespace can't match a single whitespace-split token)
    keep the pure substring-tf path (tantivy_index_manager.py:658).

    All scoring is JVM-side column math on the scan — no separate
    index; the scan IS the index at rest."""
    import re

    from ..functions.columns import identifiers

    # outer whitespace is never significant in an FTS query: trim it
    # ONCE and use the same needle for the containment prefilter, the
    # substring tf, the token path, and the snippet — otherwise a
    # trailing space would silently drop every token-hit document
    query = query_text.strip()
    if not query:
        return (chunks.filter(F.lit(False))
                .withColumn("score", F.lit(0.0))
                .withColumn("snippet", F.lit(None).cast("string"))
                .select("url", "chunk_index", "score", "snippet"))
    needle = query.lower()
    # escape: the query is a literal term, not a regex
    sub_tf = (F.length(F.lower("text"))
              - F.length(F.regexp_replace(F.lower("text"),
                                          re.escape(needle), ""))
              ) / max(len(needle), 1)
    if not re.search(r"\s", query):
        tok_tf = F.size(F.filter(
            identifiers("text"),
            lambda t: F.regexp_replace(
                F.lower(t), "^[^a-z0-9]+|[^a-z0-9]+$", "") == needle,
        )).cast("double")
        score = tok_tf + sub_tf / (F.lit(1.0) + sub_tf)
    else:
        score = sub_tf
    return (
        chunks.filter(F.lower("text").contains(needle))
        .withColumn("score", score.cast("double"))
        .withColumn("snippet", snippet_expr("text", query, ci=True))
        .orderBy(F.desc("score"), F.asc("url"), F.asc("chunk_index"))
        .limit(k)
        .select("url", "chunk_index", "score", "snippet")
    )


def hybrid_search(
    chunks: DataFrame, query_text: str, k: int = 10,
) -> DataFrame:
    """FTS ∥ semantic -> RRF merge on (url, chunk_index) — A2.

    Each branch is ranked independently; fuse_rrf sums 1/(60+rank)
    per key (semantic_query_manager.py:2592-2660)."""
    sem = semantic_search(chunks, query_text, k=k).select(
        "url", "chunk_index",
        F.row_number().over(Window.orderBy(
            F.desc("score"), F.asc("url"), F.asc("chunk_index"))).alias("rank"),
    ).withColumn("provider", F.lit("semantic"))
    kw = keyword_search(chunks, query_text, k=k).select(
        "url", "chunk_index",
        F.row_number().over(Window.orderBy(
            F.desc("score"), F.asc("url"), F.asc("chunk_index"))).alias("rank"),
    ).withColumn("provider", F.lit("fts"))
    fused = fuse_rrf(sem.unionByName(kw), ["url", "chunk_index"])
    return fused.orderBy(F.desc("rrf_score"), "url", "chunk_index").limit(k)
