"""Similarity search over embedding columns (SURVEY.md §2.5).

- brute-force cosine top-k: exact baseline (and the correctness oracle
  for any ANN variant) — crossJoin + window top-k, the Spark form of the
  reference's "similarity = 1 - distance, sort desc, limit"
  (filesystem_vector_store.py:3008-3100);
- LSH-bucketed ANN: random-hyperplane signature buckets (the same
  Johnson-Lindenstrauss/random-projection idea as the reference's
  vector quantizer, projection_matrix_manager.py:26-57) -> join on
  bucket -> exact rescoring inside buckets. At 100 TB the crossJoin is
  infeasible; the bucket join shuffles O(n·probes) rows instead of
  O(n·q).

Every top-k and near-dup operator generates candidates its own way
(crossJoin, bucket join, inverted-list join) and verifies them with one
step: ``normed`` projects each side's norm once per row and
``rounded_cosine`` scores the pairs; top-k ranks through
``fusion.add_rank`` (``_topk``).

Hyperplanes are derived from md5 bytes of (plane, dim) — deterministic,
no stored model, reproducible on any engine.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0).cast("double"), lambda acc, x: acc + x)


def _norm(c):
    return F.sqrt(F.aggregate(F.transform(c, lambda x: x * x),
                              F.lit(0.0).cast("double"),
                              lambda acc, x: acc + x))


def rounded_cosine(a, b, norm_a=None, norm_b=None):
    """round(cos(a, b), 4) — the one score every cosine verifier ranks
    and thresholds on; 4 decimals so a cross-engine last-ulp difference
    cannot flip a rank. Pass the norm columns of ``normed`` to compute
    each norm once per row instead of once per candidate pair."""
    dot = _dot(a, b)
    norm_a = _norm(a) if norm_a is None else norm_a
    norm_b = _norm(b) if norm_b is None else norm_b
    return F.round(dot / (norm_a * norm_b), 4)


def normed(df: DataFrame, id_col: str, vec_col: str, side: str) -> DataFrame:
    """(id_<side>, v_<side>, n_<side>): each vector with its norm,
    computed once per row before any candidate join. Candidate pairs
    join a side "a" to a side "b" and are scored by ``pair_cosine``."""
    return df.select(F.col(id_col).alias(f"id_{side}"),
                     F.col(vec_col).alias(f"v_{side}"),
                     _norm(F.col(vec_col)).alias(f"n_{side}"))


def pair_cosine():
    """``rounded_cosine`` of the a and b sides of two ``normed``
    projections joined into candidate pairs."""
    return rounded_cosine(F.col("v_a"), F.col("v_b"),
                          F.col("n_a"), F.col("n_b"))


def _topk(cand: DataFrame, k: int, qid_col: str) -> DataFrame:
    """The verify step of every top-k operator: score the (a = query,
    b = data vector) candidate pairs, then keep each query's top k by
    sim desc, neighbor id asc (cross-engine determinism).

    Returns (query_id, neighbor_id, rank, sim)."""
    from .fusion import add_rank

    return (
        add_rank(cand.withColumn("sim", pair_cosine()), ["id_a"], "sim",
                 "id_b")
        .filter(F.col("rank") <= k)
        .select(F.col("id_a").alias(qid_col),
                F.col("id_b").alias("neighbor_id"), "rank", "sim")
    )


def _hash_sample(emb: DataFrame, id_col: str, vec_col: str, h,
                 n: int) -> DataFrame:
    """(centroid_id, centroid_vec): the n rows smallest by hash column
    ``h`` (ties by id), numbered from 1 — a deterministic uniform sample
    selected by TakeOrderedAndProject (per-partition top-n, n-row merge
    on the driver): no global sort, no count() pre-action. row_number
    ranks only the n sampled rows, not the full table."""
    sample = (
        emb.select(F.col(id_col), F.col(vec_col), h.alias("_h"))
        .orderBy("_h", id_col)
        .limit(n)
    )
    return sample.select(
        F.row_number().over(Window.orderBy("_h", id_col))
        .alias("centroid_id"),
        F.col(vec_col).alias("centroid_vec"),
    )


def assign_nearest_lists(df, side, centroids, top=1, out_col="list_id",
                         round_sims: bool = True):
    """Shuffle-free nearest-centroid assignment of a ``normed`` side —
    (id_<side>, v_<side>, n_<side>) — a narrow map.

    Packs the (small, n_centroids-row) centroid table into ONE row via
    collect_list and broadcast-nested-loop-joins that row onto ``df``,
    so every input row sees the whole codebook as an array<struct>
    column; all sims are computed in a single projection and the argmax
    (sim desc, centroid_id asc — the cross-engine tiebreak) is
    ``array_max`` over (sim, -centroid_id, centroid_id) structs.

    Zero Exchange on the vector table: the previous form
    (crossJoin(broadcast) + Window.partitionBy(id) + row_number)
    shuffled n x n_centroids rows INCLUDING the embedding arrays just
    to rank n_centroids broadcast values per row — at 10^12 vectors
    that shuffle dwarfs the probe join it enables.

    top=1 appends ``out_col``; top>1 explodes the per-row top-n list
    (sort desc / slice / explode — all narrow). ``round_sims`` scores
    with ``rounded_cosine`` so a cross-engine last-ulp difference cannot
    flip a boundary vector's list (False = rank raw sims, used by
    KMeans where centroid means are already rounded). Each row's norm is
    the ``normed`` column n_<side>, also read by the rescore after the
    probe join, and each centroid's is computed once, never per (row,
    centroid) pair."""
    def sim_of(c):
        v, n, cv = F.col(f"v_{side}"), F.col(f"n_{side}"), c["centroid_vec"]
        if round_sims:
            return rounded_cosine(v, cv, n, c["centroid_norm"])
        return _dot(v, cv) / (n * c["centroid_norm"])

    packed = F.broadcast(centroids.agg(
        F.array_sort(F.collect_list(F.struct(
            "centroid_id", "centroid_vec",
            _norm(F.col("centroid_vec")).alias("centroid_norm"))))
        .alias("_cents")))
    j = df.crossJoin(packed)
    sims = F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            sim_of(c).alias("sim"),
            (-c["centroid_id"]).alias("_neg"),
            c["centroid_id"].alias("cid"),
        ),
    )
    if top == 1:
        return j.select(*df.columns,
                        F.array_max(sims)["cid"].alias(out_col))
    ordered = F.slice(F.reverse(F.array_sort(sims)), 1, top)
    return (
        j.withColumn("_top", ordered)
        .select(*df.columns,
                F.explode(F.col("_top")["cid"]).alias(out_col))
    )


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "query_vec",
) -> DataFrame:
    """(query_id, neighbor_id, rank, sim) — exact top-k by cosine over
    every (query, vector) pair; ties broken by neighbor id."""
    cand = normed(queries, qid_col, qvec_col, "a").crossJoin(
        normed(emb, id_col, vec_col, "b"))
    return _topk(cand, k, qid_col)


N_PLANES = 8


def _hyperplane_weights(n_planes: int, dim: int,
                        plane_offset: int = 0) -> list[list[float]]:
    """±1 weight per (plane, dim): parity of the first hex digit's value
    of md5('<plane>|<dim>') — deterministic and reproducible anywhere
    (SQL form: ('0x'||substr(md5(p||'|'||d),1,1))::int % 2).
    plane_offset shifts the plane ids, giving independent plane sets for
    banded (OR-construction) LSH."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"{p}|{d}".encode()).hexdigest()[0], 16) % 2
            else -1.0
            for d in range(dim)
        ]
        for p in range(plane_offset, plane_offset + n_planes)
    ]


def lsh_bucket_expr(vec_col: str, n_planes: int = N_PLANES, dim: int = 64,
                    plane_offset: int = 0):
    """Bucket id = sign-pattern of n_planes ±1 random hyperplanes.

    Weights are literal arrays (computed driver-side with the same md5
    rule), so the plan is one zip_with/aggregate per plane instead of a
    512-node element_at tree."""
    weights = _hyperplane_weights(n_planes, dim, plane_offset)
    out = F.lit(0)
    for p in range(n_planes):
        w = F.array(*[F.lit(x) for x in weights[p]])
        proj = F.aggregate(
            F.zip_with(F.col(vec_col), w, lambda x, y: x * y),
            F.lit(0.0).cast("double"), lambda acc, x: acc + x,
        )
        bit = F.when(proj > 0, F.lit(1)).otherwise(F.lit(0))
        out = F.shiftleft(out, 1) + bit
    return out


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: deterministic coarse quantizer + inverted lists.

    Pass ``centroids`` (e.g. from kmeans_centroids) to probe a refined
    codebook; default is the training-free hash sample below.

    Scale path beyond LSH: assign every vector to its nearest centroid
    (broadcast centroid table, JVM-side dot products), then probe only
    the n_probe nearest lists per query — the scan shrinks by
    ~n_centroids/n_probe. Centroids are the n_centroids md5(id)-smallest
    rows (``_hash_sample``), reproducible with no iterative training
    job; at 100 TB the same plan holds with KMeans-refined centroids
    swapped in. Norms are computed once per row, not once per
    candidate pair.

    Returns (query_id, neighbor_id, rank, sim) — approximate: recall
    depends on n_probe/n_centroids (rows-only check, like ann_lsh).
    """
    if centroids is None:
        # md5 (not xxhash64) sample order: portable — the DuckDB oracle
        # reproduces the exact centroid set and ids
        centroids = _hash_sample(
            emb, id_col, vec_col, F.md5(F.col(id_col).cast("string")),
            n_centroids)

    assigned = assign_nearest_lists(
        normed(emb, id_col, vec_col, "b"), "b", centroids, top=1)
    probed = assign_nearest_lists(
        normed(queries, "query_id", "query_vec", "a"), "a", centroids,
        top=n_probe)
    return _topk(probed.join(assigned, "list_id"), k, "query_id")


def kmeans_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Spherical-KMeans centroid refinement as a DataFrame job —
    (centroid_id, centroid_vec), unit-normalized.

    Init = the n_centroids xxhash64-smallest rows (``_hash_sample``) —
    a deterministic uniform sample, keyed differently from ivf_topk's
    default md5
    sample on purpose (refined centroids should not start from the
    exact rows the oracle-portable default already covers); each Lloyd
    round is: broadcast centroids →
    assign every vector to its max-cosine centroid (JVM-side dot
    products) → element-wise mean per cluster via posexplode +
    partial-agg sum/count → re-normalize. Rounds are driver-side loop
    iterations over distributed jobs; no vector data ever collects.

    Centroid means are rounded to 6 decimals each round to absorb
    float-reduction-order noise in the shuffle agg — assignments are
    reproducible across partitionings for all but measure-zero
    boundary ties. Cost per round: one broadcast join + one shuffle of
    (cluster, dim) partial sums — at 10^12 rows this is the standard
    IVF training job, run once per index build."""
    centroids = _hash_sample(
        emb, id_col, vec_col, F.xxhash64(F.col(id_col)), n_centroids,
    ).withColumn("centroid_vec",
                 F.col("centroid_vec").cast("array<double>"))
    for _ in range(iters):
        assigned = assign_nearest_lists(
            normed(emb, id_col, vec_col, "b"), "b", centroids,
            top=1, out_col="centroid_id", round_sims=False,
        ).select("centroid_id", F.col("v_b").alias("_v"))
        sums = (
            assigned.select(
                "centroid_id",
                F.posexplode(F.col("_v")).alias("dim", "x"))
            .groupBy("centroid_id", "dim")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .withColumn("m", F.round(F.col("s") / F.col("n"), 6))
            .groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m")))
                 .getField("m").alias("mean_vec"))
        )
        norm = F.sqrt(F.aggregate(
            F.transform("mean_vec", lambda x: x * x),
            F.lit(0.0).cast("double"), lambda acc, x: acc + x))
        centroids = sums.select(
            "centroid_id",
            F.when(norm > 0, F.transform(
                "mean_vec", lambda x: F.round(x / norm, 6)))
            .otherwise(F.col("mean_vec")).alias("centroid_vec"),
        ).localCheckpoint(eager=True)  # cut the per-round lineage
    return centroids


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "query_vec",
    n_planes: int = N_PLANES,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates share a hyperplane bucket with the
    query, then exact cosine rescoring + window top-k inside the bucket.

    Multi-probe: the query also probes every bucket at Hamming
    distance 1 from its own — a near-boundary query whose true
    neighbors landed one sign-flip away still finds them. Each data
    vector lives in exactly ONE bucket and the probe set is distinct
    buckets, so no candidate is scored twice; the scan is O(n_planes+1
    buckets per query), not O(n). The reference protects filtered
    recall the same way by over-fetching 2-15x
    (filesystem_vector_store.py:2968-2970)."""
    e = normed(emb, id_col, vec_col, "b").withColumn(
        "bucket", lsh_bucket_expr("v_b", n_planes, dim))
    qb = lsh_bucket_expr("v_a", n_planes, dim)
    probes = [qb] + [qb.bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)]
    q = normed(queries, qid_col, qvec_col, "a").withColumn(
        "bucket", F.explode(F.array(*probes)))
    return _topk(q.join(e, "bucket"), k, qid_col)


def planted_queries(emb: DataFrame, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Deterministic near-duplicate probe set: each query is its source
    vector with a ±10% per-component RATIONAL perturbation
    (1 + 0.1·(((id+i) mod 7) − 3)/3 — exact IEEE arithmetic, identical
    in any engine, unlike sin()). cos(query, source) ≈ 0.998, far above
    the fixture's random-pair p99 of 0.29. Retrieving the planted
    source at rank 1 is the near-dup retrieval task ANN exists for —
    and is measurable on synthetic data, unlike raw recall@10 (see
    recall_report). Same scheme as the planted-duplicate corpus the
    dedup oracle verifies value-for-value."""
    return emb.select(
        F.col(id_col).alias("query_id"),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x, i: x * (1.0 + 0.1 * (
                (F.pmod(F.col(id_col) + i, F.lit(7)) - 3) / 3.0)),
        ).alias("query_vec"),
    )


def recall_report(emb: DataFrame, queries: DataFrame, k: int = 10,
                  qid_col: str = "query_id") -> DataFrame:
    """(variant, n_queries, recall_at_k, planted_self_recall_at_1):
    the measurable accuracy contract behind the reference's ef profiles
    (`ef {fast:20, balanced:50, high:200}`,
    server/services/search_service.py:466-467; HNSW ~300x at ~full
    recall, docs/architecture.md:300). An approximate operator without a
    recall number is unfalsifiable.

    Two metrics, because the fixture vectors are near-uniform random:
    - recall_at_k vs exact brute force on the raw queries. On random
      vectors the "true" rank-2..k neighbors sit at sim ≈ 0.27-0.37,
      inside random-pair noise (p99 ≈ 0.29), so ANY sublinear index has
      recall ≈ its scan fraction here — provably, not as a defect of
      this implementation. tests/test_search.py pins that the knob
      works: ivf recall rises ∝ n_probe/n_centroids.
    - planted_self_recall_at_1 on planted_queries(): fraction of
      perturbed queries whose rank-1 hit is their source vector
      (sim ≈ 0.995). This is the genuinely-similar-item task; both
      variants must score >= 0.9 (pinned in tests/test_search.py).
    """
    exact = brute_force_topk(emb, queries, k=k).select(qid_col, "neighbor_id")
    planted = planted_queries(emb).join(
        queries.select(qid_col), qid_col, "left_semi")

    def metrics(topk_fn, name: str) -> DataFrame:
        approx = topk_fn(emb, queries, k=k).select(qid_col, "neighbor_id")
        hit = exact.join(approx, [qid_col, "neighbor_id"], "left_semi")
        p1 = topk_fn(emb, planted, k=1).filter(
            (F.col("rank") == 1) & (F.col(qid_col) == F.col("neighbor_id")))
        return (
            exact.agg(F.countDistinct(qid_col).alias("n_queries"),
                      F.count(F.lit(1)).alias("_n_exact"))
            .crossJoin(hit.agg(F.count(F.lit(1)).alias("_n_hit")))
            .crossJoin(p1.agg(F.count(F.lit(1)).alias("_n_self")))
            .select(
                F.lit(name).alias("variant"), "n_queries",
                F.round(F.col("_n_hit") / F.col("_n_exact"), 4)
                .alias("recall_at_k"),
                F.round(F.col("_n_self") / F.col("n_queries"), 4)
                .alias("planted_self_recall_at_1"),
            )
        )

    lsh = metrics(lambda e, q, k: lsh_topk(e, q, k=k), "lsh_multiprobe")
    ivf = metrics(lambda e, q, k: ivf_topk(e, q, k=k), "ivf_probe4")
    return lsh.unionByName(ivf).orderBy("variant")
