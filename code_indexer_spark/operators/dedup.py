"""Deduplication operators for large-scale training-data pipelines.

Five families, all engine-verifiable (portable md5-derived hashes — the
DuckDB oracle computes the exact same values):

- exact:      group by md5(text) (the reference's content-id dedup,
              docs/algorithms.md:100-113)
- n-gram Jaccard: word-shingle explode -> shingle-join -> |∩|/|∪|
- MinHash+LSH: minhash_signature (one aggregate) -> minhash_bands ->
              bucket_pairs; signature, bands and bucket join live once,
              shared with operators.canonicalize's entity blocking and
              (bucket_pairs) the Jaccard, SimHash and embedding pairs
              (K5 in SURVEY.md §2.5; all JVM-side: F.md5, no Python)
- SimHash:    md5-hex-parity bit votes -> per-bit majority; pairs
              block on and rescore over packed per-band keys
- embedding:  cosine-threshold near-dup pairs over array<float>;
              crossJoin or banded-LSH candidates, one verify step
              (similarity.pair_cosine)

Duplicate clusters (dedup_resolution) are the connected components of
the MinHash-LSH pairs, from the one Spark connected-components loop,
operators.canonicalize.large_star_small_star.

Scale notes: every operator here is a shuffle on a *content-derived*
key (hash / shingle / band), so it parallelizes by data, never by
driver loops. The shingle join's hot keys (stop-shingles) are the skew
risk at 100 TB — LSH banding is the mitigation (bounded bucket width),
which is why both variants exist.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import DataFrame

NUM_HASHES = 16
BANDS = 8  # rows_per_band = 2


def exact_dupes(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(content_hash, n_docs, keep_id): groups with n_docs >= 2, keeping
    the smallest id as the survivor."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("content_hash"),
                    F.col(id_col))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") >= 2)
    )


def tokens_expr(text_col: str):
    """Whitespace tokens of lower(trim(text)), empties removed —
    semantics shared with the SQL oracle's string_split_regex."""
    return F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != ""
    )


def word_shingles_df(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", k: int = 3) -> DataFrame:
    """(id, shingle) — distinct k-word shingles per document.

    Empty/whitespace-only documents contribute NO shingles (matching
    kernel.hashes.word_shingles, which returns the empty set) — without
    the filter below they'd emit one '' shingle, making every pair of
    empty docs a phantom jac=1.0 "near-duplicate" and breaking the
    kernel-parity contract of minhash_long/fingerprints."""
    toks = docs.select(F.col(id_col).alias("id"),
                       tokens_expr(text_col).alias("toks"))
    n = F.size("toks")
    sh = toks.select(
        "id",
        F.explode(
            F.when(
                n >= k,
                F.transform(
                    F.sequence(F.lit(0), n - k),
                    lambda i: F.concat_ws(" ", F.slice("toks", i + 1, k)),
                ),
            ).otherwise(F.array(F.concat_ws(" ", "toks")))
        ).alias("shingle"),
    ).filter(F.col("shingle") != "")
    return sh.distinct()


def jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", k: int = 3,
                  threshold: float = 0.5,
                  max_df: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via shingle self-join.

    (id_a, id_b, jac) with id_a < id_b and jac >= threshold. The
    shingle-join computes |∩| in one shuffle; per-doc sizes join back
    by id as plain shuffle joins — the sizes table is O(n_docs)
    (UNBOUNDED at web scale), so it must never be force-broadcast; at
    small scale AQE promotes these to broadcast joins on its own.

    ``max_df`` is the stop-shingle guard for scale (the Lee et al. 2022
    frequency cut): shingles appearing in more than max_df documents
    are dropped BEFORE the self-join — a df-D shingle alone fans out
    into D(D-1)/2 candidate rows, so one boilerplate phrase shared by
    10^6 pages would otherwise dominate the whole shuffle. The hot set
    is Zipf-bounded (few shingles exceed any reasonable cap), so it is
    removed with a broadcast anti-join, and Jaccard is then computed
    self-consistently over the frequency-cut shingle universe (sizes
    too). None (the default) keeps exact oracle semantics; the bench
    runs the guarded path with a cap above the fixture's max df, so
    the emitted pairs are unchanged there by construction.
    """
    sh = word_shingles_df(docs, id_col, text_col, k)
    if max_df is not None:
        # the guarded plan reads the shingle table from three distinct
        # subtrees (hot-set agg, per-doc sizes, self-join) — persist it
        # so tokenize+explode+distinct runs once, not once per subtree
        # (the join sides themselves dedupe via ReuseExchange, the
        # aggregates do not). A repeat call over the same input finds
        # the same cache entry: Spark's CacheManager matches plans by
        # sameResult. MEMORY_AND_DISK spills rather than recomputes.
        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
        hot = (sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
               .filter(F.col("_df") > max_df).select("shingle"))
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        bucket_pairs(sh, "id", ["shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.toDF("id_a", "sh_a"), "id_a")
        .join(sizes.toDF("id_b", "sh_b"), "id_b")
        .withColumn(
            "jac",
            F.round(F.col("n_inter")
                    / (F.col("sh_a") + F.col("sh_b") - F.col("n_inter")), 6),
        )
        .filter(F.col("jac") >= threshold)
        .select("id_a", "id_b", "jac")
    )


def decontaminate(train: DataFrame, test: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  k: int = 5) -> DataFrame:
    """Train/test contamination detection — the benchmark-leakage
    check every serious training-data pipeline runs before a model
    sees the corpus (n-gram overlap decontamination à la GPT-3
    appendix C / PaLM: a training document sharing any k-word shingle
    with an evaluation document is flagged).

    Returns (train_id, n_shared, first_shingle): one row per
    CONTAMINATED train document, n_shared = how many distinct k-gram
    shingles it shares with the test set, first_shingle = the
    lexicographically first shared shingle (deterministic evidence
    sample for audit).

    Scale shape: both sides shingle narrowly, the test side collapses
    to a distinct shingle set (benchmarks are tiny next to a crawl —
    but it is NOT force-broadcast; AQE promotes the join when it truly
    fits), one shuffle join on shingle + one groupBy on train id. At
    10^12 docs the train side dominates and partitions by
    content-derived shingle hash — no skew beyond natural stop-phrase
    hotness, which the corpus' own max_df guard (jaccard_pairs) can
    pre-filter if needed."""
    tr = word_shingles_df(train, id_col, text_col, k)
    te = (word_shingles_df(test, id_col, text_col, k)
          .select("shingle").distinct())
    return (
        tr.join(te, "shingle")
        .groupBy(F.col("id").alias("train_id"))
        .agg(F.count(F.lit(1)).alias("n_shared"),
             F.min("shingle").alias("first_shingle"))
    )


def minhash_signature(shingles: DataFrame, keys: list[str],
                       num_hashes: int = NUM_HASHES) -> DataFrame:
    """(keys…, shingle) -> (keys…, mh), one groupBy: mh[i] = min over
    the key's shingles of md5('<i>|<shingle>'), as in
    kernel.hashes.minhash_signature. A NULL shingle hashes to NULL,
    which min skips, so an explode_outer'd empty set gets all ''."""
    sh = F.col("shingle")
    return shingles.groupBy(*keys).agg(F.array(*[
        F.coalesce(F.min(F.md5(F.concat(F.lit(f"{i}|"), sh))), F.lit(""))
        for i in range(num_hashes)]).alias("mh"))


def minhash_bands(shingles: DataFrame, keys: list[str],
                  num_hashes: int = NUM_HASHES,
                  bands: int = BANDS) -> DataFrame:
    """(keys…, shingle) -> (keys…, band, band_key), one row per band:
    band_key = md5(mh[b·r] || '|' || … || mh[b·r+r-1]) with
    r = num_hashes // bands — kernel.hashes.lsh_bands."""
    rows = num_hashes // bands
    mh = F.col("mh")
    return minhash_signature(shingles, keys, num_hashes).select(
        *keys,
        F.posexplode(F.array(*[
            F.md5(F.concat_ws("|", *[mh[b * rows + j] for j in range(rows)]))
            for b in range(bands)])).alias("band", "band_key"))


def bucket_pairs(keyed: DataFrame, id_col: str, keys: list[str]) -> DataFrame:
    """(id_a, id_b) with id_a < id_b, one row per bucket (equal
    ``keys``) the two ids share — never an all-pairs join."""
    return (
        keyed.alias("a").join(keyed.alias("b"), keys)
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"))
    )


def minhash_long(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", k: int = 3,
                 num_hashes: int = NUM_HASHES) -> DataFrame:
    """Long-form minhash signature: (id, seed, minhash), the
    minhash_signature array unrolled one row per seed."""
    sh = word_shingles_df(docs, id_col, text_col, k)
    return minhash_signature(sh, ["id"], num_hashes).select(
        "id", F.posexplode("mh").alias("seed", "minhash"))


def lsh_candidate_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 3,
                        num_hashes: int = NUM_HASHES,
                        bands: int = BANDS) -> DataFrame:
    """MinHash-LSH banded candidate pairs (id_a, id_b, n_bands_shared)."""
    sh = word_shingles_df(docs, id_col, text_col, k)
    return (
        bucket_pairs(minhash_bands(sh, ["id"], num_hashes, bands),
                     "id", ["band", "band_key"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_bands_shared"))
    )


def simhash_bits_long(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", bits: int = 16) -> DataFrame:
    """Long-form simhash: (id, bit_pos, bit) with
    bit = 1 iff sum over tokens of (2*(ascii(hex[pos]) % 2) - 1) > 0
    — portable parity-of-hex-char scheme (kernel.hashes.simhash_bits).
    Positions 1-32 read md5(tok); 33-64 read the independent seeded
    md5(tok || '|2') (an md5 hex string has only 32 chars), so up to
    64 bits, all engine-portable."""
    if not 1 <= bits <= 64:
        raise ValueError("bits must be in 1..64")
    toks = docs.select(
        F.col(id_col).alias("id"), F.explode(tokens_expr(text_col)).alias("tok")
    ).withColumn("h", F.md5("tok"))
    if bits > 32:
        toks = toks.withColumn(
            "h2", F.md5(F.concat(F.col("tok"), F.lit("|2"))))
    pos = F.explode(F.sequence(F.lit(1), F.lit(bits))).alias("bit_pos")
    hex_char = F.substring(F.col("h"), F.col("bit_pos"), 1) if bits <= 32 \
        else F.when(F.col("bit_pos") <= 32,
                    F.substring(F.col("h"), F.col("bit_pos"), 1)) \
        .otherwise(F.substring(F.col("h2"), F.col("bit_pos") - 32, 1))
    hash_cols = ["id", "h"] + (["h2"] if bits > 32 else [])
    return (
        toks.select(*hash_cols, pos)
        .withColumn(
            "vote",
            F.when(F.ascii(hex_char) % 2 == 1, F.lit(1))
            .otherwise(F.lit(-1)),
        )
        .groupBy("id", "bit_pos")
        .agg(F.sum("vote").alias("s"))
        .select("id", "bit_pos",
                F.when(F.col("s") > 0, F.lit(1)).otherwise(F.lit(0)).alias("bit"))
    )


def simhash_pairs(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", bits: int = 64,
                  bands: int = 4, max_hamming: int = 3) -> DataFrame:
    """SimHash near-duplicate PAIRS: banded Hamming-LSH blocking over
    packed band keys, then an exact Hamming rescore on the same keys —
    the simhash counterpart of minhash_lsh_pairs (the reference's
    near-dup story is MinHash-only; simhash banding is the standard
    alternative for token-order-sensitive near-dup, e.g. the Google
    WWW'07 crawl dedup).

    Pigeonhole guarantee (requires ``max_hamming < bands``): a pair
    within ``max_hamming`` differs in at most ``bands - 1`` of the
    ``bands`` disjoint bit groups, so at least one band matches exactly
    and the pair always lands in a candidate bucket — blocking loses
    nothing; the rescore then removes false candidates, so the output
    is EXACTLY all pairs with hamming <= max_hamming.

    Scale shape: the bit-vote aggregation is one groupBy on
    (id, bit_pos); packing each band's r = bits // bands bits into one
    integer key is a second groupBy, on (id, band). Candidates come
    from a bucket self-join on (band, key) — never an all-pairs join —
    and the rescore joins the same (id, band, key) table back on id_a
    and on (id_b, band), ``bands`` rows per candidate side: Hamming
    distance is the sum over bands of bit_count(key_a ^ key_b). All
    three consumers read one (id, band) exchange, which Spark reuses,
    so the corpus is tokenized once without a cache. A key is a
    weighted double sum, exact only while r <= 32, so wider bands
    raise ValueError.

    Band width is the load-bearing scale knob: uniform random
    signatures put ~n/2^r docs in each of a band's 2^r buckets, so
    candidate volume is ~bands * n^2 / 2^(r+1) — with narrow bands the
    bucket self-join degenerates toward all-pairs as the corpus grows
    (and natural-text simhash bits are correlated, so real buckets
    skew hotter than uniform). The 64-bit/4-band default gives 16-bit
    bands (65,536 buckets per band, the packed-word blocking width);
    size r >= ~log2(n) at deployment. Narrower configurations remain
    available for small corpora and tests.
    """
    if bits % bands != 0:
        raise ValueError("bits must divide evenly into bands")
    if max_hamming >= bands:
        raise ValueError(
            "max_hamming must be < bands (pigeonhole guarantee: a pair "
            f"differing in {max_hamming} bits can miss every one of "
            f"{bands} bands otherwise)")
    r = bits // bands
    if r > 32:
        raise ValueError(
            f"bits // bands must be <= 32 (got {r}): each band's bits "
            "pack into one exact integer key")
    # per-(id, band) integer key: order-free weighted bit sum (2^i is
    # exact in doubles for i < r <= 32)
    keyed = (
        simhash_bits_long(docs, id_col, text_col, bits)
        .withColumn("band", ((F.col("bit_pos") - 1) / r).cast("int"))
        .groupBy("id", "band")
        .agg(F.sum(F.col("bit")
                   * F.pow(F.lit(2.0), (F.col("bit_pos") - 1) % r))
             .cast("long").alias("bkey"))
    )
    cand = bucket_pairs(keyed, "id", ["band", "bkey"]).distinct()
    return (
        cand.join(keyed.toDF("id_a", "band", "key_a"), "id_a")
        .join(keyed.toDF("id_b", "band", "key_b"), ["id_b", "band"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.bit_count(F.col("key_a").bitwiseXOR(F.col("key_b"))))
             .cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_dup_pairs(emb: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        threshold: float = 0.5) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a, id_b, sim) — brute-force
    O(n²) baseline; embedding_dup_pairs_lsh below is the scale path."""
    from .similarity import normed

    pairs = normed(emb, id_col, vec_col, "a").crossJoin(
        normed(emb, id_col, vec_col, "b"))
    return _cosine_above(pairs.filter(F.col("id_a") < F.col("id_b")),
                         threshold)


def _cosine_above(pairs: DataFrame, threshold: float) -> DataFrame:
    """The verify step of both embedding near-dup operators: candidate
    pairs of two ``similarity.normed`` sides (norms computed once per
    row, not per pair) -> (id_a, id_b, sim) with the rounded cosine at
    or above ``threshold``."""
    from .similarity import pair_cosine

    return (
        pairs.withColumn("sim", pair_cosine())
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def embedding_dup_pairs_lsh(emb: DataFrame, id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            threshold: float = 0.5,
                            n_bands: int = 4,
                            planes_per_band: int = 8) -> DataFrame:
    """Embedding-cosine near-dup pairs via banded hyperplane LSH — the
    100 TB path (the crossJoin above is the pytest oracle only).

    OR-construction over n_bands independent 8-plane sign signatures:
    two vectors are candidates iff they share a bucket in ANY band, so
    a true duplicate (cos ~ 1) is recalled with prob 1-(1-p^8)^4 where
    p = 1-θ/π — ~1.0 for exact copies, ~0.9 at cos 0.95. Candidates
    get exact cosine rescoring, so precision is exact; only recall is
    approximate (tests pin it against the brute-force oracle).

    Shuffle shape: the band posexplode is narrow (the minhash_bands
    form); the self-join shuffles O(n·bands) slim (id, band, bucket)
    rows on (band, bucket); the distinct candidate set is
    O(near-dups); vectors re-join by id for rescoring. No stage is
    O(n²).
    """
    from .similarity import lsh_bucket_expr, normed

    bands = emb.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.array(*[
            lsh_bucket_expr(vec_col, planes_per_band,
                            plane_offset=b * planes_per_band)
            for b in range(n_bands)])).alias("band", "bucket"))
    cand = bucket_pairs(bands, "id", ["band", "bucket"]).distinct()
    return _cosine_above(
        cand.join(normed(emb, id_col, vec_col, "a"), "id_a")
        .join(normed(emb, id_col, vec_col, "b"), "id_b"),
        threshold)


def ngram_dup_spans(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", n: int = 10,
                    min_docs: int = 2) -> DataFrame:
    """Cross-document duplicated spans: documents sharing any exact
    n-token span (the train-set memorization signal of
    "Deduplicating Training Data Makes Language Models Better",
    Lee et al. 2022 — their 50-token exact-substring criterion, here
    token-shingle-keyed so it stays one shuffle).

    (span_hash, n_docs, keep_id): one row per duplicated span value,
    the smallest doc id as the canonical holder. Shuffle key is the
    span hash — bucket width is O(true duplicates); no pairwise join."""
    sh = word_shingles_df(docs, id_col, text_col, n)
    return (
        sh.select(F.md5("shingle").alias("span_hash"), "id")
        .groupBy("span_hash")
        .agg(F.countDistinct("id").alias("n_docs"),
             F.min("id").alias("keep_id"))
        .filter(F.col("n_docs") >= min_docs)
    )


def dedup_resolution(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """End-to-end duplicate-CLUSTER resolution — the full dedup story,
    not just pair emission: banded MinHash-LSH candidate pairs ->
    connected components -> one canonical keep id per connected
    duplicate cluster.

    (doc_id, keep_id, is_canonical) for every document in at least one
    candidate pair; keep_id = the smallest doc_id in the component, so
    a training-data pipeline keeps rows where is_canonical and drops
    the rest (the reference's keep-first dedup policy at cluster
    granularity).

    The components come from large_star_small_star
    (operators.canonicalize) over the candidate pairs: exact for any
    component diameter, O(log n) rounds, lineage cut per round, edge
    list never collected; it maps every paired doc, a root to itself.
    The DuckDB oracle checks it with 4 unrolled rounds of min-label
    propagation, which agree wherever every cluster's diameter is
    <= 4: LSH duplicate clusters are near-cliques (every member shares
    a band bucket with most others), and it holds at all three
    testdata scales. A pytest pins the result against kernel.canon's
    union-find over the same pairs."""
    from .canonicalize import large_star_small_star

    pairs = lsh_candidate_pairs(docs, id_col, text_col)
    return large_star_small_star(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    ).select(
        F.col("entity_id").alias(id_col),
        F.col("canonical_id").alias("keep_id"),
        (F.col("entity_id") == F.col("canonical_id")).alias("is_canonical"),
    )


def url_dupes(docs: DataFrame, url_col: str = "url",
              id_col: str = "doc_id") -> DataFrame:
    """Crawl URL-level dedup: group documents by canonical_url
    (functions.columns — fragment/case/port/tracking-param/trailing-
    slash normalization) and emit groups fetched more than once:
    (canonical_url, n_docs, keep_id = smallest id). The cheap first
    pass of crawl dedup — same-resource refetches collapse BEFORE any
    content hashing or shingling runs. One groupBy shuffle on the
    canonicalized key; narrow regex column math before it."""
    from ..functions.columns import canonical_url

    return (
        docs.select(canonical_url(url_col).alias("canonical_url"),
                    F.col(id_col))
        .groupBy("canonical_url")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") >= 2)
    )
