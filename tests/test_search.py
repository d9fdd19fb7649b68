"""Read-side search plans (the reference's `cidx query` surface) over
the chunks table — SURVEY §3.2 lifecycle parity."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def chunks(spark, kg_small):
    from code_indexer_spark.plans.pipeline import build_chunks

    df = build_chunks(spark, kg_small).persist()
    df.count()
    yield df
    df.unpersist()


def test_semantic_search_exact_finds_query_chunk(spark, chunks):
    """Searching with a chunk's own text must return that chunk first
    (cosine(v, v) = 1)."""
    from code_indexer_spark.plans.search import semantic_search

    probe = chunks.limit(1).collect()[0]
    top = semantic_search(chunks, probe.text, k=3).collect()
    assert top[0].url == probe.url
    assert top[0].chunk_index == probe.chunk_index
    assert top[0].score >= 0.999


def test_semantic_search_profiles_agree_on_top1(spark, chunks):
    """fast/balanced candidates are subsets; when the true neighbor is
    in the bucket, top-1 matches exact."""
    from code_indexer_spark.plans.search import semantic_search

    probe = chunks.limit(1).collect()[0]
    exact = semantic_search(chunks, probe.text, k=1, accuracy="high").collect()
    fast = semantic_search(chunks, probe.text, k=1, accuracy="fast").collect()
    bal = semantic_search(chunks, probe.text, k=1, accuracy="balanced").collect()
    for res in (fast, bal):
        assert res and (res[0].url, res[0].chunk_index) == \
            (exact[0].url, exact[0].chunk_index)


def test_semantic_search_filters_and_threshold(spark, chunks):
    from code_indexer_spark.plans.search import semantic_search

    probe = chunks.limit(1).collect()[0]
    spec = {"must": [{"key": "lang", "match": {"value": "en"}}]}
    rows = semantic_search(chunks, probe.text, k=5, filter_spec=spec,
                           score_threshold=0.1).collect()
    assert rows
    langs = {r["lang"] for r in chunks.select("url", "lang").distinct()
             .join(spark.createDataFrame(
                 [(x.url,) for x in rows], ["url"]), "url").collect()}
    assert langs == {"en"}


def test_semantic_search_rejects_conflicting_filter(spark, chunks):
    from code_indexer_spark.plans.search import semantic_search

    spec = {"must": [{"key": "lang", "match": {"value": "en"}}],
            "must_not": [{"key": "lang", "match": {"value": "en"}}]}
    with pytest.raises(ValueError, match="contradictory"):
        semantic_search(chunks, "anything", filter_spec=spec)


def test_keyword_and_hybrid_search(spark, chunks):
    from code_indexer_spark.plans.search import hybrid_search, keyword_search

    kw = keyword_search(chunks, "partners", k=5).collect()
    assert kw and all(r.snippet for r in kw)
    hy = hybrid_search(chunks, "partners", k=5).collect()
    assert hy
    # hybrid keys must come from one of the branches
    kw_keys = {(r.url, r.chunk_index) for r in kw}
    assert any((r.url, r.chunk_index) in kw_keys for r in hy)


def test_keyword_search_literal_metachars(spark, chunks):
    """A query containing regex metacharacters is treated literally."""
    from code_indexer_spark.plans.search import keyword_search

    rows = keyword_search(chunks, "€100 at the café", k=5).collect()
    # fixture pages include '"Budget approx €100 at the café résumé desk."'
    assert rows and all("€100" in (r.snippet or "") for r in rows)
    # and a pure-metachar query must not blow up / match everything
    assert keyword_search(chunks, "a.*b(", k=5).count() == 0


def test_filtered_fast_overfetch_still_fills_k(spark, chunks):
    """T3 over-fetch parity: a selective payload filter combined with an
    approximate profile must not starve the top-k — the widened probe
    net (Hamming-2 / 16x prefix family) plus the exact-scan fallback
    guarantee k rows whenever k matching rows exist at all."""
    from code_indexer_spark.plans.search import semantic_search

    probe = chunks.limit(1).collect()[0]
    # the rarest lang in the fixture = the most selective equality filter
    rare = (chunks.groupBy("lang").count()
            .orderBy("count", "lang").collect()[0])
    k = min(5, rare["count"])
    spec = {"must": [{"key": "lang", "match": {"value": rare["lang"]}}]}
    exact = semantic_search(chunks, probe.text, k=k, filter_spec=spec,
                            accuracy="high").collect()
    assert len(exact) == k
    ekeys = {(r.url, r.chunk_index) for r in exact}
    for profile in ("fast", "balanced"):
        got = semantic_search(chunks, probe.text, k=k, filter_spec=spec,
                              accuracy=profile).collect()
        assert len(got) == k, profile
        gkeys = {(r.url, r.chunk_index) for r in got}
        # at least the unfiltered profile gate (top-1 parity) worth of
        # overlap: the filtered approximate set must stay anchored to
        # the exact answer, not drift to an arbitrary k rows
        assert len(ekeys & gkeys) / k >= 0.6, (profile, ekeys, gkeys)


def test_keyword_search_identifier_tokens_outrank_substring(spark):
    """FTS ranks the tokenized identifiers field above raw substring
    containment: an exact token hit (even punctuation-wrapped) beats a
    chunk where the term only occurs inside a longer word."""
    from code_indexer_spark.plans.search import keyword_search

    df = spark.createDataFrame(
        [("u1", 0, "our partner program ships today"),
         ("u2", 0, "a (partner), yes a partner indeed"),
         ("u3", 0, "partnership partnerships copartnered")],
        ["url", "chunk_index", "text"])
    rows = keyword_search(df, "partner", k=10).collect()
    assert [r.url for r in rows] == ["u2", "u1", "u3"]
    # token hits score >= 1; the substring-only chunk stays below 1
    assert rows[0].score > rows[1].score >= 1.0 > rows[2].score > 0
    # phrase path: substring tf, no token gating
    ph = keyword_search(df, "partner program", k=10).collect()
    assert [r.url for r in ph] == ["u1"]
    # outer whitespace is trimmed once, consistently: a trailing space
    # must not drop token-hit documents from the containment prefilter
    padded = keyword_search(df, "partner ", k=10).collect()
    assert [r.url for r in padded] == [r.url for r in rows]
    # pure-whitespace query returns nothing (not everything)
    assert keyword_search(df, "   ", k=10).count() == 0


def test_query_bucket_matches_jvm_expression(spark):
    """Driver-side query_bucket must be bit-identical to the JVM
    lsh_bucket_expr evaluated over the same literal vector."""
    import pyspark.sql.functions as F

    from code_indexer_spark.kernel.embed import embed_text
    from code_indexer_spark.operators.similarity import lsh_bucket_expr
    from code_indexer_spark.plans.search import query_bucket

    for q in ("partners and acquisitions", "café résumé", "x"):
        v = [float(x) for x in embed_text(q)]
        jvm = (spark.range(1)
               .select(F.array(*[F.lit(x) for x in v]).alias("v"))
               .select(lsh_bucket_expr("v").alias("b")).collect()[0]["b"])
        assert query_bucket(q) == jvm, q


def test_keyword_search_snippet_case_insensitive(spark):
    """A row matched case-insensitively must still get a snippet cut
    from the ORIGINAL text (position found on the lowercased copy)."""
    from code_indexer_spark.plans.search import keyword_search

    df = spark.createDataFrame(
        [("u1", 0, "Parse the HTML tree with Parser tools")],
        ["url", "chunk_index", "text"])
    rows = keyword_search(df, "parse", k=5).collect()
    assert rows and rows[0].snippet is not None
    assert "Parse" in rows[0].snippet
