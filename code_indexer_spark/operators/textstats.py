"""Text analysis operators: language-ID, quality scoring, token counts,
fingerprinting, snippet extraction (training-data-pipeline suite +
SURVEY.md P9/P10).

All pure column expressions (whole-stage codegen, zero Python) with
semantics chosen to be expressible 1:1 in the DuckDB oracle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window

from .dedup import tokens_expr

# Tiny stopword sets per language — n-gram-free heuristic language ID:
# lang = argmax stopword-hit ratio. Deterministic, oracle-expressible.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "that", "is", "with", "for",
           "on", "as", "at", "by", "while", "across"],
    "de": ["der", "die", "das", "und", "nicht", "mit", "ist", "von", "zu",
           "den", "im", "ein", "eine", "auf"],
    "fr": ["le", "la", "les", "et", "de", "des", "un", "une", "est", "dans",
           "que", "pour", "sur", "avec"],
}


def _hit_ratio(toks_col, words: list[str]):
    hits = F.size(F.filter(toks_col, lambda t: t.isin(words)))
    return hits / F.greatest(F.size(toks_col), F.lit(1))


def language_id(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(id, en_ratio, de_ratio, fr_ratio, lang_guess)."""
    toks = tokens_expr(text_col)
    d = docs.select(F.col(id_col).alias("id"), toks.alias("toks"))
    d = d.select(
        "id",
        F.round(_hit_ratio(F.col("toks"), STOPWORDS["en"]), 6).alias("en_ratio"),
        F.round(_hit_ratio(F.col("toks"), STOPWORDS["de"]), 6).alias("de_ratio"),
        F.round(_hit_ratio(F.col("toks"), STOPWORDS["fr"]), 6).alias("fr_ratio"),
    )
    best = F.greatest("en_ratio", "de_ratio", "fr_ratio")
    guess = (
        F.when(best <= 0, F.lit("und"))
        # tie order en > de > fr (deterministic)
        .when(F.col("en_ratio") == best, F.lit("en"))
        .when(F.col("de_ratio") == best, F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return d.withColumn("lang_guess", guess)


def quality_score(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """(id, n_chars, n_tokens, mean_token_len, stopword_ratio,
    alnum_ratio, quality) — length/stopword/charset heuristics like
    C4/Gopher-style quality filters, all as column math."""
    t = F.col(text_col)
    toks = tokens_expr(text_col)
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    alnum = F.length(F.regexp_replace(t, "[^a-zA-Z0-9]", ""))
    stop = F.size(F.filter(toks, lambda x: x.isin(STOPWORDS["en"])))
    d = docs.select(
        F.col(id_col).alias("id"),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(n_chars / F.greatest(n_tokens, F.lit(1)), 6)
        .alias("mean_token_len"),
        F.round(stop / F.greatest(n_tokens, F.lit(1)), 6)
        .alias("stopword_ratio"),
        F.round(alnum / F.greatest(n_chars, F.lit(1)), 6).alias("alnum_ratio"),
    )
    q = (
        F.least(F.col("n_tokens") / F.lit(50.0), F.lit(1.0)) * 0.4
        + F.least(F.col("stopword_ratio") * F.lit(4.0), F.lit(1.0)) * 0.3
        + F.col("alnum_ratio") * 0.3
    )
    # floor(x*1e6 + 0.5)/1e6 instead of round(x, 6): both engines
    # compute it as the same IEEE double ops, so a sum sitting exactly
    # on a .5e-6 boundary rounds the same way everywhere (F.round's
    # BigDecimal HALF_UP and DuckDB's round() disagree there)
    quality = F.floor(q * 1000000.0 + 0.5) / 1000000.0
    return d.withColumn("quality", quality)


def token_counts(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(id, n_ws_tokens, n_alnum_tokens, n_distinct_tokens) — whitespace
    tokens vs BPE-ish alnum-run tokens vs distinct vocabulary."""
    ws = tokens_expr(text_col)
    alnum_runs = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), lambda x: x != ""
    )
    return docs.select(
        F.col(id_col).alias("id"),
        F.size(ws).alias("n_ws_tokens"),
        F.size(alnum_runs).alias("n_alnum_tokens"),
        F.size(F.array_distinct(ws)).alias("n_distinct_tokens"),
    )


def top_tokens(docs: DataFrame, text_col: str = "text",
               n: int = 50) -> DataFrame:
    """Global token frequency top-n (P9 identifiers side-channel made
    into a corpus-level aggregation); ties by token asc."""
    return (
        docs.select(F.explode(tokens_expr(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(n)
    )


def fingerprints(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", k: int = 3,
                 keep: int = 4) -> DataFrame:
    """Winnowing-style fingerprint: `keep` smallest md5(word-k-shingle)
    digests joined with '|' (kernel.hashes.fingerprint semantics)."""
    from .dedup import word_shingles_df

    sh = word_shingles_df(docs, id_col, text_col, k)
    return (
        sh.select("id", F.md5("shingle").alias("d"))
        .groupBy("id")
        .agg(
            F.array_join(
                F.slice(F.array_sort(F.collect_list("d")), 1, keep), "|"
            ).alias("fingerprint")
        )
    )


def snippets(docs: DataFrame, needle: str, id_col: str = "doc_id",
             text_col: str = "text", radius: int = 30) -> DataFrame:
    """P10: first-match context window around `needle`.

    (id, pos, snippet) for docs containing the needle; snippet is the
    ±radius chars around the first occurrence (clamped at 1)."""
    pos = F.instr(F.col(text_col), needle)
    return (
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"),
                    pos.alias("pos"))
        .filter(F.col("pos") > 0)
        .select(
            "id", "pos",
            F.substring(
                F.col("_t"),
                F.greatest(F.col("pos") - radius, F.lit(1)),
                F.lit(radius * 2 + len(needle)),
            ).alias("snippet"),
        )
    )


def tfidf_top_terms(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", k: int = 3,
                    min_df: int | None = None) -> DataFrame:
    """(id, term, score, rank): each document's k most distinctive terms
    by tf·idf with idf = ln(N/df) — the classic training-data signal for
    document topicality / keyword extraction.

    Shuffle shape: one explode + (doc, token) agg, a token-keyed df agg
    joined back on term as a PLAIN shuffle join, and a per-doc top-k
    window. The df table is NOT force-broadcast: distinct tokens of a
    web-scale crawl (typos, ids, hashes, urls) run to billions of rows,
    so the vocabulary relation is unbounded — AQE broadcasts it at
    runtime only when it actually fits. ``min_df`` (standard TF-IDF
    practice) drops terms appearing in fewer than min_df documents
    BEFORE the join, killing the hapax tail that dominates vocabulary
    size at scale; None keeps exact classic semantics.
    Scores are stabilized with floor(x*1e6+0.5)/1e6 (engine-identical
    rounding) and ranked on the ROUNDED value, ties by term — the same
    cross-engine discipline as quality_score/ann_topk."""
    from .fusion import add_rank

    toks = docs.select(F.col(id_col).alias("id"),
                       F.explode(tokens_expr(text_col)).alias("term"))
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = toks.select("id", "term").distinct().groupBy("term").agg(
        F.count(F.lit(1)).alias("df"))
    if min_df is not None:
        df_t = df_t.filter(F.col("df") >= min_df)
    n_docs = docs.select(F.countDistinct(id_col).alias("n"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.floor(F.col("tf") * F.log(F.col("n") / F.col("df"))
                    * 1000000.0 + 0.5) / 1000000.0,
        )
    )
    return (
        add_rank(scored, ["id"], "score", "term")
        .filter(F.col("rank") <= k)
        .select("id", "term", "score", "rank")
    )


def bm25_topk(docs: DataFrame, query_terms: list[str],
              id_col: str = "doc_id", text_col: str = "text",
              k: int = 10, k1: float = 1.2, b: float = 0.75,
              dl_col: str | None = None) -> DataFrame:
    """Multi-term BM25 ranking (Lucene IDF variant:
    idf = ln(1 + (N - df + 0.5)/(df + 0.5))) — the standard FTS scorer
    the reference gets from tantivy (tantivy_index_manager.py BM25
    default), expressed as a declarative plan:

      explode tokens -> FILTER to the query terms -> (doc, term) tf

    The isin() filter sits directly on the exploded tokens, so only
    query-term postings ever shuffle — the inverted-index access
    pattern without materializing an index; at 10^12 docs the shuffled
    volume is O(postings of |q| terms), not O(corpus tokens). Document
    length rides ALONG with the postings (size(t) projected before the
    explode, reduced with min() in the tf agg — constant per doc), so
    there is no separate doc-length relation and no dl join (the r4
    plan tokenized dl in its own subtree and shuffle-joined it back on
    id); df comes from the already-filtered tf table (one tiny
    partial-agg — NOT a per-term window, which would serialize a
    stopword term's 10^11 postings into one task); N/avgdl from a
    1-row agg (bounded 1-row broadcast).

    Honest pass count: df's re-aggregation of tf re-expands the
    postings subtree (Catalyst plans the two consumers independently
    and column-pruning divergence defeats exchange reuse — measured,
    not assumed), so the DEFAULT plan runs 2 explode passes + 1
    generate-free size() pass over the text column (r4 ran 2 + 2 plus
    the dl join). At rest a real deployment stores doc length as a
    column; pass ``dl_col`` to use it — then dl/stats tokenize nothing
    and the text column is tokenized only under the postings filter.
    Scores round to 1e-6 and rank on the ROUNDED value, ties by id —
    the cross-engine discipline shared with tfidf/quality_score. The
    global top-k is orderBy+limit (TakeOrderedAndProject, no
    single-partition window); rank is computed on the <= k survivors.

    A query term given twice weights that term's contribution twice
    (Lucene sums per query-term occurrence, not per distinct term) —
    implemented as a literal multiplicity map, so the plan is unchanged
    for the common all-distinct case (every weight 1).

    Returns (id, score, rank)."""
    from collections import Counter

    from .fusion import add_rank

    weights = Counter(t.lower() for t in query_terms)
    terms = sorted(weights)
    if dl_col is not None:
        base = docs.select(F.col(id_col).alias("id"),
                           F.col(dl_col).cast("long").alias("dl"),
                           tokens_expr(text_col).alias("t"))
        stats_dl = F.col(dl_col).cast("long")
    else:
        base = docs.select(F.col(id_col).alias("id"),
                           tokens_expr(text_col).alias("t")) \
            .select("id", F.size("t").alias("dl"), "t")
        stats_dl = F.size(tokens_expr(text_col))
    ex = base.select("id", "dl", F.explode("t").alias("term"))
    tf = (ex.filter(F.col("term").isin(terms))
          .groupBy("id", "term")
          .agg(F.count(F.lit(1)).alias("tf"),
               F.min("dl").alias("dl")))  # dl constant per id
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = docs.select(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(stats_dl).alias("sum_dl"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(stats))  # 1 row — bounded by construction
        .withColumn(
            "idf",
            F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5)
                  / (F.col("df") + 0.5)))
        .withColumn(
            "term_score",
            F.col("idf") * (F.col("tf") * (k1 + 1))
            / (F.col("tf")
               + k1 * (1 - b + b * F.col("dl")
                       / (F.col("sum_dl") / F.col("n_docs"))))
            * F.element_at(
                F.create_map(*[x for t in terms
                               for x in (F.lit(t),
                                         F.lit(float(weights[t])))]),
                F.col("term")))
    )
    topk = (
        scored.groupBy("id")
        .agg(F.round(F.sum("term_score"), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )
    return add_rank(topk, [], "score", "id").select("id", "score", "rank")


def domain_cap(docs: DataFrame, group_col: str = "source",
               key_col: str = "doc_id", cap: int = 50,
               salt_buckets: int = 64) -> DataFrame:
    """Per-domain document cap — the crawl-mix guard that stops one
    giant site from dominating a training corpus (the per-domain
    page-count caps of C4/RefinedWeb-style pipelines).

    Keeps at most ``cap`` documents per group, selected by a
    content-keyed md5 rank (same discipline as deterministic_sample):
    which documents survive depends only on their own keys, so the
    selection is deterministic across engines and partitionings AND
    stable under corpus growth — adding new documents can displace at
    most the largest-hash survivors, never reshuffle the whole choice.

    Plan — salted two-phase top-k, EXACT by construction (no
    probabilistic prefilter, no fallback path):

    1. window over ``(group, salt)`` where salt = 16 low bits of the
       row's own md5 hash mod ``salt_buckets``; keep per-salt rank
       <= cap. A mega-domain (10^8-10^9 pages of one host in a real
       crawl) splits into ``salt_buckets`` parallel sort tasks instead
       of serializing into ONE window partition — the skew AQE cannot
       fix (it can split joins, never window partitions). Size
       ``salt_buckets`` as the largest group's row count ÷ the rows one
       window task should sort: 10^8 pages of one host at ~10^6 rows
       per sort task wants ~100 buckets; more only adds phase-2 rows.
    2. the exact window over the survivors — at most
       ``salt_buckets * cap`` narrow rows per group.

    Exactness: every row of a group's true top-``cap`` (by (hash, key)
    asc) has < cap rows before it globally, hence < cap before it in
    its own salt bucket, so it survives phase 1; all globally-preceding
    rows survive with it, so its phase-2 rank equals its global rank.
    Conversely a row ranked > cap globally is preceded by >= cap
    survivors, so phase 2 filters it. Output is row-identical to the
    single-window plan (the SQL oracle keeps the one-window form).

    Hash inputs are null-coalesced to '' on BOTH engines — DuckDB's
    ``||`` nulls the whole key while concat_ws skips nulls, so a NULL
    group would otherwise rank differently per engine.

    Returns (group, key, rk) for the survivors."""
    h = F.md5(F.concat_ws(
        "|",
        F.coalesce(F.col(group_col).cast("string"), F.lit("")),
        F.coalesce(F.col(key_col).cast("string"), F.lit("")),
    ))
    base = docs.select(F.col(group_col).alias("grp"),
                       F.col(key_col).alias("key"), h.alias("h"))
    # salt from the LOW hex digits: phase-1 order is by h asc, so using
    # high digits would send the globally-smallest hashes to bucket 0
    salt = F.pmod(F.conv(F.substring("h", 29, 4), 16, 10).cast("int"),
                  F.lit(salt_buckets))
    w1 = Window.partitionBy("grp", "salt").orderBy(F.col("h").asc(),
                                                   F.col("key").asc())
    survivors = (
        base.withColumn("salt", salt)
        .withColumn("rk1", F.row_number().over(w1))
        .filter(F.col("rk1") <= cap)
        .select("grp", "key", "h")
    )
    w2 = Window.partitionBy("grp").orderBy(F.col("h").asc(),
                                           F.col("key").asc())
    return (
        survivors.select("grp", "key",
                         F.row_number().over(w2).alias("rk"))
        .filter(F.col("rk") <= cap)
    )


def bigram_buckets(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   bucket_hex: int = 3):
    """(id, b): one row per consecutive token pair, b = the first
    ``bucket_hex`` hex chars of md5('w1 w2') — 16^bucket_hex string
    buckets. Array slice/zip_with (no per-doc window, no join): bigram
    extraction stays inside the row, so it parallelizes like any
    column expression."""
    l = tokens_expr(text_col)
    n = F.greatest(F.size(l) - 1, F.lit(0))
    bg = F.zip_with(F.slice(l, 1, n), F.slice(l, 2, n),
                    lambda a, b: F.concat(a, F.lit(" "), b))
    return docs.select(F.col(id_col).alias("id"),
                       F.explode(bg).alias("g")) \
        .select("id", F.substring(F.md5("g"), 1, bucket_hex).alias("b"))


def dsir_logweights(raw: DataFrame, target: DataFrame,
                    id_col: str = "doc_id", text_col: str = "text",
                    bucket_hex: int = 3) -> DataFrame:
    """Data Selection via Importance Resampling weights (Xie et al.
    2023, DSIR): log importance weight of each RAW document under a
    hashed-bigram bag-of-ngrams model of the TARGET corpus —
    log w(d) = sum over d's bigrams g of
    log p_target(bucket(g)) / p_raw(bucket(g)), add-1 smoothed over
    B = 16^bucket_hex buckets. The standard cheap proxy for "which
    crawl documents look like the high-quality target" when curating
    a pretraining mix; resample raw docs ~ softmax of these weights.

    Cross-engine determinism discipline: all counts stay integer; each
    bucket's log-ratio is rounded ONCE to integer micro-nats
    (floor(ln(ratio) * 1e6 + 0.5)), and the per-doc score is an exact
    integer SUM of micro-nats divided by 1e6 at the end — so shuffle
    order can't perturb the result and a last-ulp libm difference is
    confined to a bucket's 1e-6 rounding boundary (the tfidf/bm25
    discipline). Each count factor is cast to double BEFORE the
    multiply: an int64 product (cr+1)*(nt+B) overflows long once the
    corpora pass ~3e9 bigrams each (ANSI mode would kill the job;
    non-ANSI would silently NULL the log), while the IEEE double
    product is deterministic across engines and its worst-case 1-ulp
    (~1e-16 relative) input error is 10 orders of magnitude inside the
    1e-6 micro-nat rounding granularity.

    Raw documents with fewer than two tokens emit no bigrams; they
    still get their natural logw = 0 (empty-sum) row via a left join
    back to the raw id set, so a downstream resampler joining on
    ``id_col`` never silently drops short documents from the mix.
    ``id_col`` must be unique in ``raw`` (it is the join key).

    Scale shape: two groupBys on the bucket key (≤ B distinct — tiny),
    two 1-row total aggregates (bounded broadcast by construction),
    and one join of the raw bigram stream against the ≤ B-row ratio
    table (AQE broadcasts it); the per-doc sum is one groupBy on id.
    No window, no all-pairs, nothing driver-side.
    """
    B = 16 ** bucket_hex
    # the raw side is read by three consumers (per-bucket counts, the
    # corpus total, and the final per-doc score join)
    raw_bg = bigram_buckets(raw, id_col, text_col, bucket_hex).persist(
        StorageLevel.MEMORY_AND_DISK)
    tgt_bg = bigram_buckets(target, id_col, text_col, bucket_hex)

    tgt_counts = tgt_bg.groupBy("b").agg(
        F.count(F.lit(1)).alias("ct"))
    raw_counts = raw_bg.groupBy("b").agg(
        F.count(F.lit(1)).alias("cr"))
    n_t = tgt_bg.agg(F.count(F.lit(1)).alias("nt"))
    n_r = raw_bg.agg(F.count(F.lit(1)).alias("nr"))

    ratio = (
        raw_counts
        .join(tgt_counts, "b", "left")
        .crossJoin(F.broadcast(n_t))  # 1 row — bounded by construction
        .crossJoin(F.broadcast(n_r))  # 1 row — bounded by construction
        .select(
            "b",
            F.floor(
                F.log(
                    ((F.coalesce(F.col("ct"), F.lit(0)) + 1)
                     .cast("double")
                     * (F.col("nr") + B).cast("double"))
                    / ((F.col("cr") + 1).cast("double")
                       * (F.col("nt") + B).cast("double")))
                * 1e6 + 0.5).cast("long").alias("lr_micro"),
        )
    )
    scored = (
        raw_bg.join(ratio, "b")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"),
             F.sum("lr_micro").alias("micro"))
    )
    return (
        raw.select(F.col(id_col).alias("id"))
        .join(scored, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            (F.coalesce(F.col("micro"), F.lit(0)).cast("double") / 1e6)
            .alias("logw"))
    )


def deterministic_sample(df: DataFrame, key_col: str,
                         fraction: float) -> DataFrame:
    """Content-keyed Bernoulli sample: keep rows where the first 8 hex
    chars of md5(key) — a uniform 32-bit integer — fall under
    fraction·2^32. Deterministic (same rows every run, every engine,
    any partitioning), reproducible in SQL, and stable under corpus
    growth: a row's fate depends only on its own key, so incremental
    batches sample consistently with history. The sampling every
    training-data pipeline needs but Spark's df.sample() can't give
    (seed-and-partitioning dependent)."""
    threshold = int(fraction * (1 << 32))
    h = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8),
               16, 10).cast("long")
    return df.filter(h < threshold)


def corpus_mix(docs: DataFrame, fractions: dict[str, float],
               stratum_col: str = "lang",
               key_col: str = "doc_id") -> DataFrame:
    """Training-mix construction: per-stratum deterministic sampling
    rates (e.g. downsample English, keep all low-resource languages) —
    the corpus-mixing step of an LLM data pipeline as one filter.
    Strata absent from `fractions` are dropped (explicit mix only)."""
    h = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8),
               16, 10).cast("long")
    cond = F.lit(False)
    for stratum, frac in sorted(fractions.items()):
        cond = cond | (
            (F.col(stratum_col) == stratum)
            & (h < int(frac * (1 << 32)))
        )
    return docs.filter(cond)


PII_PATTERNS = [
    # (name, regex, replacement) — conservative RE2-compatible patterns
    # that behave identically under Java regex (Spark) and RE2 (DuckDB)
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("url", r"https?://[^\s]+", "<URL>"),
    ("longnum", r"[0-9]{9,}", "<NUM>"),
]


def scrub_pii(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """(id, text_scrubbed, n_emails, n_urls, n_longnums): the redaction
    pass of a training-data pipeline — emails, URLs, and long digit runs
    masked with typed placeholders, per-doc match counts kept for
    filtering/stats. Pure regexp column expressions; counts are derived
    from length deltas of a sentinel substitution so each pattern is
    evaluated once per kind.

    Counts are RAW per-pattern match totals on the ORIGINAL text, while
    replacements apply sequentially (email -> url -> longnum) — so a
    span consumed by an earlier substitution still counts for a later
    pattern (e.g. a 9-digit run inside a URL is counted in n_longnums
    but ends up inside <URL>, never replaced by <NUM>). Counts can
    therefore exceed inserted placeholders; the SQL oracle mirrors the
    same raw-count semantics, which suit the usual consumer (per-doc
    PII-density stats) better than placeholder accounting would."""
    out = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    counts = []
    scrubbed = F.col("t")
    # counting by sentinel-substitution requires the sentinel to be
    # absent first: dirty web text CAN contain \x01 bytes, and each
    # pre-existing one would inflate every count by 1
    clean = F.regexp_replace(F.col("t"), "\x01", "")
    for name, pat, repl in PII_PATTERNS:
        n = F.size(F.split(F.regexp_replace(clean, pat, "\x01"),
                           "\x01")) - 1
        counts.append(n.alias(f"n_{name}s"))
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return out.select("id", scrubbed.alias("text_scrubbed"), *counts)


def repetition_signals(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """(id, n_lines, dup_line_frac, dup_2gram_frac, top_token_frac) —
    the Gopher repetition filters (Rae et al. 2021, table A1): text
    with a high fraction of duplicated lines / repeated n-grams / one
    dominating token is boilerplate or degenerate generation, and
    training-data pipelines drop it before dedup even runs.

    - dup_line_frac: fraction of non-empty trimmed lines that repeat
      an earlier line;
    - dup_2gram_frac: fraction of token-2gram OCCURRENCES beyond each
      2gram's first (counts multiplicity, unlike the distinct-shingle
      dedup ops);
    - top_token_frac: the most frequent token's share of all tokens
      (ties irrelevant — only the max count is used).

    Shape: line/2gram stats are a narrow projection (array math on the
    row); top_token_frac is one explode + two partial-agg groupBys on
    (id, token) then id — slim rows, the standard word-count shuffle —
    joined back to the narrow side on id. All fractions rounded to 6
    so the DuckDB oracle reproduces them exactly.
    """
    t = F.col(text_col)
    lines = F.filter(
        F.transform(F.split(t, "\n"), lambda x: F.trim(x)),
        lambda x: x != "")
    n_lines = F.size(lines)
    n_dist_lines = F.size(F.array_distinct(lines))
    toks = tokens_expr(text_col)
    n_toks = F.size(toks)
    grams = F.when(
        n_toks >= 2,
        F.transform(F.sequence(F.lit(0), n_toks - 2),
                    lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2))),
    ).otherwise(F.array().cast("array<string>"))
    n_grams = F.size(grams)
    n_dist_grams = F.size(F.array_distinct(grams))
    base = docs.select(
        F.col(id_col).alias("id"),
        n_lines.alias("n_lines"),
        F.round((n_lines - n_dist_lines)
                / F.greatest(n_lines, F.lit(1)), 6).alias("dup_line_frac"),
        F.round((n_grams - n_dist_grams)
                / F.greatest(n_grams, F.lit(1)), 6).alias("dup_2gram_frac"),
        n_toks.alias("_n_toks"),
    )
    top = (
        docs.select(F.col(id_col).alias("id"),
                    F.explode(tokens_expr(text_col)).alias("tok"))
        .groupBy("id", "tok").agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id").agg(F.max("c").alias("_top"))
    )
    return (
        base.join(top, "id", "left")
        .select(
            "id", "n_lines", "dup_line_frac", "dup_2gram_frac",
            F.round(F.coalesce(F.col("_top"), F.lit(0))
                    / F.greatest(F.col("_n_toks"), F.lit(1)), 6)
            .alias("top_token_frac"),
        )
    )


def cooccur_pmi(docs: DataFrame, text_col: str = "text",
                window: int = 3, min_count: int = 5,
                k: int = 50) -> DataFrame:
    """(a, b, c_ab, pmi): top-k token pairs by pointwise mutual
    information within a sliding window of ``window`` following tokens
    — collocation mining (Church & Hanks 1990), the co-occurrence
    statistic a KG pipeline uses to propose candidate predicates
    between co-mentioned entities; beyond-reference LLM-pipeline
    surface, same family as dsir_logweights/domain_cap.

    Pair generation is pure JVM array math — for each position i the
    token pairs with the next ``window`` tokens via
    transform+slice+least/greatest (canonical order, self-pairs
    dropped), NO positional self-join — so the pair stream is a single
    narrow O(tokens × window) projection, generated once. The (a, b)
    pair count is partial-aggregated map-side, so stopword-pair key
    skew ships one partial row per task, not the raw stream; the
    unigram counts and the pair total are sums over those pair counts,
    never a second pass over the stream. The total is a 1-row aggregate
    joined by broadcast; top-k is TakeOrderedAndProject (no global
    sort).

    Estimator: p(a,b) = c_ab/P over P window pairs, p(a) = c_a/(2P)
    over pair endpoints, so pmi = ln(4·P·c_ab / (c_a·c_b)). Every
    factor is cast to double BEFORE multiplying (the dsir discipline:
    4·P·c_ab overflows int64 once the crawl passes ~10^9 pair slots,
    while the IEEE product is deterministic cross-engine) and the log
    is rounded ONCE to integer micro-nats; ordering ties break on
    (a, b) so the top-k is total and engine-stable.
    """
    if window < 1:
        raise ValueError("window must be >= 1 (tokens ahead to pair)")
    if min_count < 1 or k < 1:
        raise ValueError("min_count and k must be >= 1")
    pair_expr = F.expr(f"""
        filter(
            flatten(transform(_tk, (x, i) ->
                transform(slice(_tk, i + 2, {int(window)}), y ->
                    struct(least(x, y) AS a, greatest(x, y) AS b)))),
            p -> p.a <> p.b)
    """)
    pairs = (
        docs.select(tokens_expr(text_col).alias("_tk"))
        .select(F.explode(pair_expr).alias("p"))
        .select("p.a", "p.b")
    )
    pc = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    # a <> b, so c_a = Σ c_ab over pairs with a at either end; P = Σ c_ab
    uni = (
        pc.select(F.explode(F.array("a", "b")).alias("tok"), "c_ab")
        .groupBy("tok").agg(F.sum("c_ab").alias("c"))
    )
    tot = pc.select(F.sum("c_ab").alias("p_total"))
    scored = (
        pc.filter(F.col("c_ab") >= min_count)
        .join(uni.toDF("a", "c_a"), "a")
        .join(uni.toDF("b", "c_b"), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a", "b", "c_ab",
            (F.floor(
                F.log((F.lit(4.0) * F.col("p_total").cast("double")
                       * F.col("c_ab").cast("double"))
                      / (F.col("c_a").cast("double")
                         * F.col("c_b").cast("double")))
                * 1e6 + 0.5) / 1e6).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "a", "b").limit(k)
