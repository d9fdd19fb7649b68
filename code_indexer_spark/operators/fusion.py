"""Result fusion & ranking aggregations (SURVEY.md §2.6-2.7).

Every ``enumerate(results)`` in the reference becomes a rank window;
every fusion loop becomes a groupBy-sum. Direct parity:

- fuse_rrf:            services/query_strategy.py:130-173 (RRF_K=60:48)
- fuse_rrf_multi:      services/temporal/temporal_fusion.py:37-111
- apply_score_gate:    services/query_strategy.py:73-127 (0.80/0.70
                       constants :53-54)
- fuse_multiply / fuse_average: services/query_strategy.py:193-334
  (global min-max normalize; missing side -> 0.5 neutral)
- dedup_by_key (A8/A9): temporal_fusion.py:170-239,
  multi_index_query_service.py:239-433
- merge_shards_by_score (A7): temporal_fusion.py:112-169
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..functions.columns import RRF_K, rrf_term

SCORE_GATE_DETECT = 0.80
SCORE_GATE_CULL = 0.70


def add_rank(df: DataFrame, partition_cols: list[str], score_col: str,
             tiebreak_col: str, rank_col: str = "rank") -> DataFrame:
    """rank = row_number ordered by score desc, tiebreak asc (T5)."""
    w = Window.partitionBy(*partition_cols).orderBy(
        F.desc(score_col), F.asc(tiebreak_col)
    )
    return df.withColumn(rank_col, F.row_number().over(w))


def fuse_rrf(ranked: DataFrame, key_cols: list[str],
             provider_col: str = "provider",
             rank_col: str = "rank", k: int = RRF_K) -> DataFrame:
    """ranked(key..., provider, rank 1-based) ->
    (key..., rrf_score, n_providers, providers).

    score = Σ_providers 1 / (k + rank) — the reference uses
    1/(k + rank_0based + 1) (query_strategy.py:158), identical for
    1-based ranks.
    """
    return (
        ranked.groupBy(*key_cols)
        .agg(
            F.round(F.sum(rrf_term(rank_col, k)), 6)
            .alias("rrf_score"),
            F.countDistinct(provider_col).alias("n_providers"),
            F.array_join(F.array_sort(F.collect_set(provider_col)), ",")
            .alias("providers"),
        )
    )


def score_gate(df: DataFrame, score_a: str = "score_a",
               score_b: str = "score_b") -> DataFrame:
    """A4: if max(weaker) < max(stronger)×0.80, cull WEAKER-SIDE scores
    below max(stronger)×0.70 — by nulling the weaker score, never by
    dropping the row: the stronger provider's result for that key must
    survive (the reference filters only secondary_results and returns
    primary unchanged, query_strategy.py:95-112). A NULL weaker score
    passes through untouched (a missing side is not a below-floor
    side). Rows whose BOTH sides end up null carry nothing and drop.
    Implemented with two scalar aggregates crossJoined back (2×1 row —
    broadcast, no shuffle of df)."""
    maxes = df.agg(F.max(score_a).alias("max_a"),
                   F.max(score_b).alias("max_b"))
    j = df.crossJoin(F.broadcast(maxes))
    a_stronger = F.col("max_b") < F.col("max_a") * SCORE_GATE_DETECT
    b_stronger = F.col("max_a") < F.col("max_b") * SCORE_GATE_DETECT
    new_b = F.when(
        a_stronger & (F.col(score_b) < F.col("max_a") * SCORE_GATE_CULL),
        F.lit(None).cast("double")).otherwise(F.col(score_b))
    new_a = F.when(
        b_stronger & (F.col(score_a) < F.col("max_b") * SCORE_GATE_CULL),
        F.lit(None).cast("double")).otherwise(F.col(score_a))
    return (
        j.withColumn(score_a, new_a).withColumn(score_b, new_b)
        .filter(F.col(score_a).isNotNull() | F.col(score_b).isNotNull())
        .drop("max_a", "max_b")
    )


def _minmax_norm(col, mn, mx):
    return F.when(mx > mn, (col - mn) / (mx - mn)).otherwise(F.lit(0.5))


def fuse_multiply(joined: DataFrame, score_a: str = "score_a",
                  score_b: str = "score_b") -> DataFrame:
    """A5: global min-max normalize over the combined score pool;
    missing side -> 0.5; fused = norm_a * norm_b."""
    pool = joined.select(F.col(score_a).alias("s")).union(
        joined.select(F.col(score_b).alias("s"))
    ).agg(F.min("s").alias("mn"), F.max("s").alias("mx"))
    j = joined.crossJoin(F.broadcast(pool))
    na = F.coalesce(_minmax_norm(F.col(score_a), F.col("mn"), F.col("mx")),
                    F.lit(0.5))
    nb = F.coalesce(_minmax_norm(F.col(score_b), F.col("mn"), F.col("mx")),
                    F.lit(0.5))
    return j.withColumn("fused", F.round(na * nb, 6)).drop("mn", "mx")


def fuse_average(joined: DataFrame, score_a: str = "score_a",
                 score_b: str = "score_b") -> DataFrame:
    """A6: both sides -> mean of norms; single side -> (norm + 0.5)/2."""
    pool = joined.select(F.col(score_a).alias("s")).union(
        joined.select(F.col(score_b).alias("s"))
    ).agg(F.min("s").alias("mn"), F.max("s").alias("mx"))
    j = joined.crossJoin(F.broadcast(pool))
    na = _minmax_norm(F.col(score_a), F.col("mn"), F.col("mx"))
    nb = _minmax_norm(F.col(score_b), F.col("mn"), F.col("mx"))
    fused = (
        F.when(F.col(score_a).isNotNull() & F.col(score_b).isNotNull(),
               (na + nb) / 2.0)
        .when(F.col(score_a).isNotNull(), (na + F.lit(0.5)) / 2.0)
        .otherwise((nb + F.lit(0.5)) / 2.0)
    )
    return j.withColumn("fused", F.round(fused, 6)).drop("mn", "mx")


def dedup_by_key(df: DataFrame, key_cols: list[str], score_col: str,
                 tiebreak_col: str) -> DataFrame:
    """A8/A9: keep the best-scoring row per key (window dedup)."""
    return (
        add_rank(df, key_cols, score_col, tiebreak_col, "_rn")
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge_shards_by_score(shards: list[DataFrame], score_col: str,
                          tiebreak_col: str, limit: int) -> DataFrame:
    """A7: unionByName -> global sort desc -> limit."""
    out = shards[0]
    for s in shards[1:]:
        out = out.unionByName(s, allowMissingColumns=True)
    return out.orderBy(F.desc(score_col), F.asc(tiebreak_col)).limit(limit)


def topk(df: DataFrame, score_col: str, tiebreak_col: str,
         k: int) -> DataFrame:
    """T1: global top-k — Spark plans TakeOrderedAndProject (no full sort)."""
    return df.orderBy(F.desc(score_col), F.asc(tiebreak_col)).limit(k)
