"""Entity canonicalization: MinHash-LSH blocking + Jaccard verification +
connected components as DataFrame ops, for entity tables too large for
the driver.

Semantics are pinned by kernel/canon.py (the plain-Python oracle): same
shingles, same seeded-md5 minhash bands (operators.dedup.minhash_bands,
the signature and band helper the dedup operators share), same
threshold, same min-id-as-canonical rule — so the Spark result equals
the oracle's union-find exactly (tests/test_canonicalize.py). Entity
tables of at most SMALL_ENTITIES rows are mapped by that oracle on the
driver (one collect); the Spark path below runs above it.

Scale notes (the whole point of this module):
- each name is normalized and shingled once (_name_shingles); blocking
  and verification both read that one projection;
- blocking key is (entity_type, first_token, band_id, band_key) — bucket
  sizes stay O(near-duplicates), never O(entities); the self-join is a
  shuffle on that compound key (operators.dedup.bucket_pairs), AQE
  splits any residual skew, and it emits id pairs only;
- the exact Jaccard verify runs once per distinct candidate pair, on
  the carried shingle arrays;
- connected components: large-star/small-star (Kiveris et al.,
  "Connected Components in MapReduce and Beyond"): O(log n) rounds,
  lineage cut each round with localCheckpoint, no component
  materialized on one node, no edge list collected.

Reference analog: content-id dedup / reconcile
(docs/algorithms.md:100-143) — G8 in SURVEY.md §2.9.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import StructField, StructType

from ..functions.columns import norm_surface, triple_id
from .dedup import bucket_pairs, minhash_bands


def _char_shingles_expr(norm_col, k: int):
    """array of distinct k-char shingles of an already-normalized name
    (set semantics via array_distinct); shorter-than-k names shingle to
    the whole name, '' to [] — the Column twin of char_shingles."""
    n = F.length(norm_col)
    return F.when(
        n >= k,
        F.array_distinct(F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.substr(norm_col, i, F.lit(k)),
        )),
    ).otherwise(F.array_remove(F.array(norm_col), ""))


def _name_shingles(entities: DataFrame) -> DataFrame:
    """entities(entity_id, canonical_name, entity_type) ->
    (entity_id, entity_type, tok0, sh): the first token and the
    kernel.canon.name_shingles set (as an array) of the normalized name."""
    from ..kernel.canon import SHINGLE_K

    return entities.select(
        "entity_id", "entity_type",
        norm_surface(F.col("canonical_name")).alias("_norm"),
    ).select(
        "entity_id", "entity_type",
        F.split("_norm", " ").getItem(0).alias("tok0"),
        _char_shingles_expr(F.col("_norm"), SHINGLE_K).alias("sh"),
    )


def band_stage(named: DataFrame) -> DataFrame:
    """_name_shingles output -> exploded
    (entity_id, entity_type, tok0, band_id, band_key).

    Entirely JVM-side column expressions (zero Python UDFs on this hot
    path): operators.dedup.minhash_bands with kernel.canon's
    NUM_HASHES/BANDS, the same signature and band keys the dedup
    operators use. Equality with the plain-Python kernel oracle is
    pinned by tests/test_canonicalize.

    An empty name has no shingles: explode_outer keeps it as one NULL
    shingle that votes '' for every component, which is the all-''
    signature (every band key md5('|')) kernel.minhash_signature gives."""
    from ..kernel.canon import BANDS, NUM_HASHES

    keys = ["entity_id", "entity_type", "tok0"]
    return minhash_bands(
        named.select(*keys, F.explode_outer("sh").alias("shingle")),
        keys, NUM_HASHES, BANDS,
    ).withColumnRenamed("band", "band_id")


def candidate_pairs(named: DataFrame) -> DataFrame:
    """Self-join on the blocking key -> distinct (src, dst) entity ids
    with src < dst."""
    return (
        bucket_pairs(band_stage(named), "entity_id",
                     ["entity_type", "tok0", "band_id", "band_key"])
        .toDF("src", "dst")
        .distinct()
    )


def verified_edges(entities: DataFrame) -> DataFrame:
    """Candidate pairs filtered by exact shingle Jaccard >= threshold,
    verified once per distinct pair on the shingle arrays joined back by
    id (array_intersect/array_union over distinct-shingle arrays = exact
    set Jaccard; empty∩empty is 1.0 like kernel.hashes.jaccard)."""
    from ..kernel.canon import JACCARD_THRESHOLD

    named = _name_shingles(entities)
    sh = named.select("entity_id", "sh")
    inter = F.size(F.array_intersect("sa", "sb"))
    uni = F.size(F.array_union("sa", "sb"))
    jac = F.when(uni == 0, F.lit(1.0)).otherwise(inter.cast("double") / uni)
    return (
        candidate_pairs(named)
        .join(sh.toDF("src", "sa"), "src")
        .join(sh.toDF("dst", "sb"), "dst")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("src", "dst")
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


# Entity tables up to this many rows are canonicalized on the driver by
# the plain-Python oracle (kernel.canon.canonical_map) after one collect;
# larger ones take the Spark path. Measured at local[4] (ROADMAP.md,
# Recent): the kernel costs ~0.8 ms per entity on one core, the Spark
# path ~10 s more job overhead but ~0.5 ms per entity; the kernel wins
# by ~8 s at 14k entities, the two are within noise from 34k to 55k,
# and Spark wins by ~28 s at 100k.
# The constant sits below the tie because more executor cores speed up
# only the Spark path.
SMALL_ENTITIES = 20_000


def canonical_mapping(entities: DataFrame) -> DataFrame:
    """entities -> (entity_id, canonical_id) for ALL entities, one row
    per input row (identity rows included for singletons).

    One size decision: a table of at most SMALL_ENTITIES rows is mapped
    by kernel.canon on the driver; a larger one by LSH blocking +
    verified_edges + large_star_small_star. A NULL id, name or type is a
    NULL join key on the Spark path and never pairs, so on the driver
    path such rows skip the kernel and map to themselves.

    The driver path hands its rows to Spark as one Arrow table, so the
    plan is a LocalRelation: its rows sit in the plan, and counting or
    joining it starts no Python worker (a list would be a pickled
    parallelize). The Spark path returns a persisted, counted frame, so
    every consumer reads the star loop's result, not its lineage."""
    import pyarrow as pa

    from ..kernel.canon import canonical_map

    rows = (entities.select("entity_id", "canonical_name", "entity_type")
            .limit(SMALL_ENTITIES + 1).collect())
    if len(rows) <= SMALL_ENTITIES:
        # tuple first: `in` on a Row tests its field names, not values
        m = canonical_map([t for t in map(tuple, rows) if None not in t])
        id_type = entities.schema["entity_id"].dataType
        ids = [r[0] for r in rows]
        return entities.sparkSession.createDataFrame(
            pa.table({"entity_id": ids,
                      "canonical_id": [m.get(i, i) for i in ids]}),
            StructType([StructField("entity_id", id_type),
                        StructField("canonical_id", id_type)]))
    mapping = large_star_small_star(verified_edges(entities))
    mapping = (
        entities.select("entity_id")
        .join(mapping, "entity_id", "left")
        .select(
            "entity_id",
            F.coalesce("canonical_id", "entity_id").alias("canonical_id"),
        )
        .persist()
    )
    mapping.count()
    return mapping


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
        .withColumn("triple_id",
                    triple_id("subj", "pred", "obj", "src_url"))
    )
