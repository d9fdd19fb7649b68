"""Entity canonicalization: MinHash-LSH blocking + Jaccard verification +
large-star/small-star connected components — all DataFrame ops.

Semantics are pinned by kernel/canon.py (the plain-Python oracle): same
shingles, same seeded-md5 minhash bands, same threshold, same
min-id-as-canonical rule — so the Spark result equals the oracle's
union-find exactly (tests/test_canonicalize.py).

Scale notes (the whole point of this module):
- blocking key is (entity_type, first_token, band_id, band_key) — bucket
  sizes stay O(near-duplicates), never O(entities); the self-join is a
  shuffle on that compound key and AQE splits any residual skew;
- the pairwise Jaccard verify runs only on blocked candidates (the
  reference's over-fetch-then-filter shape, SURVEY.md T3);
- connected components use the large-star/small-star algorithm
  (Kiveris et al., "Connected Components in MapReduce and Beyond"),
  which converges in O(log n) rounds and never materializes a
  component's full membership on one node; each round persists its
  edge set and unpersists the previous one; lineage is cut with
  localCheckpoint to keep plans bounded.

Reference analog: content-id dedup / reconcile
(docs/algorithms.md:100-143) — G8 in SURVEY.md §2.9.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .triples import triple_id_col


def _char_shingles_expr(norm_col, k: int):
    """array of distinct k-char shingles of an already-normalized name
    (set semantics via array_distinct); shorter-than-k names shingle to
    the whole name — the Column twin of kernel.hashes.char_shingles."""
    n = F.length(norm_col)
    return F.when(
        n >= k,
        F.array_distinct(F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.substr(norm_col, i, F.lit(k)),
        )),
    ).otherwise(F.array(norm_col))


def band_stage(entities: DataFrame) -> DataFrame:
    """entities(entity_id, canonical_name, entity_type) -> exploded
    (entity_id, canonical_name, entity_type, tok0, band_id, band_key).

    Entirely JVM-side column expressions (zero Python UDFs on this hot
    path): the char-3-shingle / seeded-md5 minhash / banded-key scheme
    of kernel.canon, built with the same construction already proven
    value-identical in operators.dedup.minhash_long —
    band_key = md5(sig[2b] || '|' || sig[2b+1]) with
    sig[i] = min over shingles of md5('<i>|<shingle>'). Equality with
    the plain-Python kernel oracle is pinned by tests/test_canonicalize.

    An empty normalized name has NO shingles; kernel.minhash_signature
    then yields all-'' components, so every band key is md5('|') — those
    rows take a literal fast path (the explode would drop them)."""
    from ..kernel.canon import BANDS, NUM_HASHES, SHINGLE_K
    from ..functions.columns import norm_surface

    rows_per_band = NUM_HASHES // BANDS
    base = entities.select(
        "entity_id", "canonical_name", "entity_type",
        norm_surface(F.col("canonical_name")).alias("_norm"),
    ).withColumn("tok0", F.split("_norm", " ").getItem(0))
    n = F.length("_norm")
    shingles = _char_shingles_expr(F.col("_norm"), SHINGLE_K)

    nonempty = base.filter(n > 0)
    sig = (
        nonempty.select("entity_id", F.explode(shingles).alias("shingle"))
        .select("entity_id", "shingle",
                F.explode(F.sequence(F.lit(0), F.lit(NUM_HASHES - 1)))
                .alias("seed"))
        .groupBy("entity_id", "seed")
        .agg(F.min(F.md5(F.concat_ws(
            "|", F.col("seed").cast("string"), F.col("shingle"))))
            .alias("mh"))
    )
    banded = (
        sig.withColumn("band_id", (F.col("seed") / rows_per_band).cast("int"))
        .groupBy("entity_id", "band_id")
        # order inside the band is fixed by seed -> deterministic key
        .agg(F.md5(F.array_join(
            F.array_sort(F.collect_list(F.struct("seed", "mh")))
            .getField("mh"), "|")).alias("band_key"))
    )
    attrs = base.select("entity_id", "canonical_name", "entity_type", "tok0")
    out = banded.join(attrs, "entity_id").select(
        "entity_id", "canonical_name", "entity_type", "tok0",
        "band_id", "band_key")

    empty_key = F.md5(F.lit("|".join([""] * rows_per_band)))
    empties = base.filter(n == 0).select(
        "entity_id", "canonical_name", "entity_type", "tok0",
        F.explode(F.sequence(F.lit(0), F.lit(BANDS - 1))).alias("band_id"),
    ).withColumn("band_key", empty_key).withColumn(
        "band_id", F.col("band_id").cast("int"))
    return out.unionByName(empties)


def candidate_pairs(entities: DataFrame) -> DataFrame:
    """Self-join on the blocking key -> distinct (id_a, name_a, id_b,
    name_b) with id_a < id_b."""
    banded = band_stage(entities)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.entity_type") == F.col("b.entity_type"),
                F.col("a.tok0") == F.col("b.tok0"),
                F.col("a.band_id") == F.col("b.band_id"),
                F.col("a.band_key") == F.col("b.band_key"),
                F.col("a.entity_id") < F.col("b.entity_id"),
            ],
        )
        .select(
            F.col("a.entity_id").alias("id_a"),
            F.col("a.canonical_name").alias("name_a"),
            F.col("b.entity_id").alias("id_b"),
            F.col("b.canonical_name").alias("name_b"),
        )
        .distinct()
    )


def verified_edges(entities: DataFrame) -> DataFrame:
    """Candidate pairs filtered by exact shingle Jaccard >= threshold —
    pure column expressions (array_intersect/array_union over the
    distinct-shingle arrays = exact set Jaccard; an empty∩empty pair is
    1.0 like kernel.hashes.jaccard). Runs only on blocked candidates,
    and now with zero Python UDFs anywhere in canonicalization."""
    from ..kernel.canon import JACCARD_THRESHOLD, SHINGLE_K
    from ..functions.columns import norm_surface

    sa = _char_shingles_expr(
        norm_surface(F.coalesce(F.col("name_a"), F.lit(""))), SHINGLE_K)
    sb = _char_shingles_expr(
        norm_surface(F.coalesce(F.col("name_b"), F.lit(""))), SHINGLE_K)
    inter = F.size(F.array_intersect(sa, sb))
    uni = F.size(F.array_union(sa, sb))
    jac = F.when(uni == 0, F.lit(1.0)).otherwise(
        inter.cast("double") / uni)
    return (
        candidate_pairs(entities)
        .filter(jac >= JACCARD_THRESHOLD)
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )


def _checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        # xor-fold: order-insensitive, overflow-free (ANSI-safe)
        F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def large_star_small_star(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """edges(src, dst) -> mapping(entity_id, canonical_id) for all nodes
    appearing in edges (canonical = component minimum).

    Alternates large-star and small-star rounds until the edge multiset
    is stable (checksum), then reads the star edges as the mapping.
    """
    cur = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    prev_sum = None
    for it in range(max_iter):
        # ---- large-star: connect every neighbor > u to min(N(u) ∪ {u})
        bidir = cur.union(cur.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst")))
        mins = bidir.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        large = (
            bidir.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # ---- small-star: orient edges high->low, connect all low
        # neighbors (and u itself) to the minimum
        hi_lo = large.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        mins2 = hi_lo.groupBy("src").agg(F.min("dst").alias("m"))
        small = (
            hi_lo.join(mins2, "src")
            .select(
                F.col("dst").alias("node"), F.col("m"),
                F.col("src").alias("u"),
            )
        )
        new_edges = (
            small.select(F.col("node").alias("src"), F.col("m").alias("dst"))
            .union(small.select(F.col("u").alias("src"), F.col("m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        cur_sum = _checksum(new_edges)
        cur = new_edges
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    # converged star graph: src -> component min (dst)
    return cur.select(
        F.col("src").alias("entity_id"), F.col("dst").alias("canonical_id")
    )


# Below this edge count the component structure fits trivially on the
# driver and the O(log n)-round distributed loop is pure fixed overhead
# (~20 sequential tiny jobs). Adaptive algorithm choice, same spirit as
# AQE's runtime re-planning: tiny graph -> driver union-find; big graph
# -> large-star/small-star. Both produce the identical mapping
# (component minimum), proven equal by tests/test_canonicalize.py.
SMALL_GRAPH_EDGES = 2_000_000


def connected_components(edges: DataFrame,
                         threshold: int = SMALL_GRAPH_EDGES) -> DataFrame:
    """edges(src, dst) -> (entity_id, canonical_id), canonical =
    component min. Dispatches on edge count; at 10^9-entity scale the
    distributed star loop runs, at bench scale the driver union-find
    collapses ~20 scheduler round trips into one collect."""
    edges = edges.select("src", "dst").distinct()
    edges.persist()  # one materialization serves both count and collect
    try:
        n = edges.count()
        if n > threshold:
            return large_star_small_star(edges)
        return _driver_union_find(edges)
    finally:
        edges.unpersist()


def _driver_union_find(edges: DataFrame) -> DataFrame:
    parent: dict[str, str] = {}

    def find(x: str) -> str:  # path-halving union-find
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    rows = edges.collect()
    for row in rows:
        a, b = find(row["src"]), find(row["dst"])
        if a != b:
            # min-id root keeps the canonical-id rule exact
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo
    nodes = {r["src"] for r in rows} | {r["dst"] for r in rows}
    mapping = [(x, find(x)) for x in sorted(nodes)]
    # explicit schema: createDataFrame([]) cannot infer one, and a clean
    # input (no verified duplicate pairs) legitimately yields zero edges
    return edges.sparkSession.createDataFrame(
        mapping, "entity_id string, canonical_id string")


def canonical_mapping(entities: DataFrame) -> DataFrame:
    """entities -> (entity_id, canonical_id) for ALL entities
    (identity rows included for singletons)."""
    mapping = connected_components(verified_edges(entities))
    return (
        entities.select("entity_id")
        .join(mapping, "entity_id", "left")
        .select(
            "entity_id",
            F.coalesce("canonical_id", "entity_id").alias("canonical_id"),
        )
    )


def apply_canonical(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite subj/obj to canonical ids (two broadcast joins — the
    mapping is O(#entities), tiny next to triples)."""
    m = F.broadcast(mapping)
    return (
        triples.join(
            m.withColumnRenamed("entity_id", "subj")
             .withColumnRenamed("canonical_id", "subj_canon"),
            "subj", "left",
        )
        .join(
            m.withColumnRenamed("entity_id", "obj")
             .withColumnRenamed("canonical_id", "obj_canon"),
            "obj", "left",
        )
        .select(
            F.coalesce("subj_canon", "subj").alias("subj"),
            "pred",
            F.coalesce("obj_canon", "obj").alias("obj"),
            "src_url", "rule_id", "confidence",
        )
        .withColumn("triple_id", triple_id_col())
    )
