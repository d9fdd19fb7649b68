"""Graph query operators over nodes/edges tables (SURVEY.md §2.9).

The reference's SCIP SQLite graph queries (scip/query/primitives.py)
become joins / depth-bounded iterative self-joins:

- transitive deps (G3):  depth-bounded loop of frontier joins
- impact BFS (G4):       frontier.join(edges).subtract(visited), min dist
- path enumeration (G5): path-array extension join with
                         ~array_contains cycle check, shortest first

Every loop is a DRIVER-side loop over a SMALL fixed depth (<= 10 per
the reference's analyze_impact contract, primitives.py:311-325) — the
data never collects to the driver; each iteration is one distributed
join, and intermediate frontiers are localCheckpointed to keep lineage
bounded.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def transitive_closure(edges: DataFrame, max_depth: int) -> DataFrame:
    """(src, dst, depth) — all pairs reachable in <= max_depth hops;
    depth = minimum hop count (G3 get_dependencies semantics)."""
    base = edges.select("src", "dst").distinct() \
        .withColumn("depth", F.lit(1))
    result = base
    frontier = base
    for d in range(2, max_depth + 1):
        nxt = (
            frontier.alias("f")
            .join(edges.alias("e"), F.col("f.dst") == F.col("e.src"))
            .select(F.col("f.src").alias("src"),
                    F.col("e.dst").alias("dst"))
            .distinct()
            .join(result.select("src", "dst"), ["src", "dst"], "left_anti")
            .withColumn("depth", F.lit(d))
        )
        nxt = nxt.localCheckpoint(eager=True)
        if nxt.isEmpty():
            break
        result = result.unionByName(nxt)
        frontier = nxt
    return result


def impact_bfs(edges: DataFrame, seeds: DataFrame,
               max_depth: int = 3) -> DataFrame:
    """(node, dist) — BFS over *dependents* (reverse edges) from seed
    nodes, dist = min distance 1..max_depth (G4 analyze_impact,
    composites.py:259-334). seeds: one column ``node``."""
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    visited = seeds.select(F.col("node")).distinct() \
        .withColumn("dist", F.lit(0))
    frontier = visited
    for d in range(1, max_depth + 1):
        nxt = (
            frontier.alias("f")
            .join(rev.alias("e"), F.col("f.node") == F.col("e.src"))
            .select(F.col("e.dst").alias("node"))
            .distinct()
            .join(visited.select("node"), ["node"], "left_anti")
            .withColumn("dist", F.lit(d))
        )
        nxt = nxt.localCheckpoint(eager=True)
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited.filter(F.col("dist") > 0)


def call_chains(edges: DataFrame, from_node: str, to_node: str,
                max_depth: int = 5,
                max_paths: int | None = None) -> DataFrame:
    """(path array<string>, depth) — simple paths from->to up to
    max_depth, shortest first (G5 trace_call_chain: cycle detection via
    ~array_contains, dedupe, orderBy(size(path)).

    ``max_paths`` is the combinatorial-explosion guard for dense
    graphs: between two hubs the number of simple paths grows
    factorially with depth (a 20k-page KG fixture already yields 721k
    depth-4 paths hub-to-hub — at web scale this enumeration is
    unbounded). With a cap, each round's frontier is truncated to the
    lexicographically-first max_paths prefixes via orderBy+limit
    (TakeOrderedAndProject — no single-partition window), and the
    output to the first max_paths completed paths in (depth, lex)
    order. This is a DETERMINISTIC BEAM: it returns exactly the full
    enumeration whenever no round's frontier exceeds the cap (the
    fixture case — pinned), and otherwise every completion reachable
    within the beam — completions of dropped prefixes may be missed,
    because whether a prefix completes is unknowable without exploring
    it. Size the cap to the frontier you can afford, not to the output
    you want."""
    from ..util import free_local_checkpoint

    paths = (
        edges.filter(F.col("src") == from_node)
        .select(F.array(F.col("src"), F.col("dst")).alias("path"),
                F.col("dst").alias("head"))
        .distinct()
    )
    done = paths.filter(F.col("head") == to_node).select("path")
    frontier = paths.filter(F.col("head") != to_node)
    # Superseded rounds are released deterministically (the
    # pagerank discipline): `done` is re-checkpointed
    # each round so it stops referencing earlier ext checkpoints, after
    # which the PREVIOUS ext (consumed into this round's ext and into
    # the new done) is safe to free — without the done checkpoint,
    # unpersisting an ext that done's lineage still needs would lose
    # data (localCheckpoint truncates lineage; blocks can't recompute).
    # At most 2 ext + 2 done round tables are ever pinned; exactly one
    # (the final done) survives the loop.
    prev_ext = prev_done = None
    for _ in range(2, max_depth + 1):
        if max_paths is not None:
            frontier = (frontier
                        .orderBy(F.array_join("path", ">"))
                        .limit(max_paths))
        ext = (
            frontier.alias("p")
            .join(edges.alias("e"), F.col("p.head") == F.col("e.src"))
            .filter(~F.array_contains(F.col("p.path"), F.col("e.dst")))
            .select(F.concat(F.col("p.path"), F.array(F.col("e.dst")))
                    .alias("path"),
                    F.col("e.dst").alias("head"))
            .distinct()
        )
        ext = ext.localCheckpoint(eager=True)
        if ext.isEmpty():
            free_local_checkpoint(ext)
            break
        done = (done.unionByName(ext.filter(F.col("head") == to_node)
                                 .select("path"))
                .localCheckpoint(eager=True))
        if prev_ext is not None:
            free_local_checkpoint(prev_ext)
        if prev_done is not None:
            free_local_checkpoint(prev_done)
        prev_ext, prev_done = ext, done
        frontier = ext.filter(F.col("head") != to_node)
    # the final ext feeds only the dead frontier; done is self-contained
    if prev_ext is not None:
        free_local_checkpoint(prev_ext)
    out = (
        done.distinct()
        .select("path", F.size("path").alias("depth"))
        .orderBy("depth", F.array_join("path", ">"))
    )
    return out.limit(max_paths) if max_paths is not None else out


def smart_context(definitions: DataFrame, dependents: DataFrame,
                  references: DataFrame, limit: int = 20,
                  min_score: float = 0.0) -> DataFrame:
    """G6 smart-context composite (ref scip/query/composites.py:653-884):
    curated file list with relevance scoring, combining three
    relationship relations — definition (score 1.0), depth-1 dependents
    (0.7), references (0.6) — each as a (file, symbol) DataFrame.

    Per file: dedup symbols keeping their max score, file relevance =
    mean of symbol scores, filter min_score, global top-`limit` by
    relevance with read_priority = rank. The top-k is orderBy+limit
    (TakeOrderedAndProject); the rank window runs on the <= limit
    surviving rows only, never the full relation.

    Returns (file, relevance_score, n_symbols, read_priority).
    """
    from .fusion import add_rank

    def tagged(df: DataFrame, rel: str, score: float) -> DataFrame:
        return df.select(
            "file", "symbol", F.lit(score).alias("score"),
            F.lit(rel).alias("relationship"))

    scored = (
        tagged(definitions, "definition", 1.0)
        .unionByName(tagged(dependents, "dependent", 0.7))
        .unionByName(tagged(references, "reference", 0.6))
    )
    per_symbol = scored.groupBy("file", "symbol").agg(
        F.max("score").alias("score"))
    per_file = (
        per_symbol.groupBy("file")
        .agg(F.round(F.avg("score"), 6).alias("relevance_score"),
             F.count(F.lit(1)).alias("n_symbols"))
        .filter(F.col("relevance_score") >= min_score)
        .orderBy(F.desc("relevance_score"), F.asc("file"))
        .limit(limit)
    )
    return add_rank(per_file, [], "relevance_score", "file",
                    "read_priority")


def pagerank(edges: DataFrame, iters: int = 3, damping: float = 0.85,
             round_to: int = 8, until_converged: bool = False,
             tol: float = 1e-6, max_iters: int = 100) -> DataFrame:
    """Entity-importance scores over (src, dst) edges: rounds of
    PR(v) = (1-d) + d * Σ_{u->v} PR(u)/outdeg(u), dangling nodes keep
    their base mass. The KG analog of ranking entities by mention count
    (build_nodes.n_mentions) that actually propagates importance
    through the link structure — useful as a canonical-entity ranking
    signal at training-data scale.

    Each round is one join + one groupBy shuffle on dst; scores are
    rounded to `round_to` decimals PER ROUND so the floating-point
    reduction order of the shuffle agg can never leak into the result —
    the output is deterministic across partitionings and engines (the
    DuckDB oracle runs the identical unrolled recurrence for the
    bounded default).

    ``until_converged=True`` is the 10^12-edge mode (a checkpointed
    loop-until-stable): the slim inputs
    (edge list, node set, out-degrees) are eagerly localCheckpoint-ed
    once so no round re-executes the upstream subtree, each round's
    score table is checkpointed to keep lineage flat, and the loop
    stops when no node's ROUNDED score moved by more than ``tol``
    (one count() action per round on the O(nodes) table), or after
    ``max_iters`` rounds as a runaway bound. Ref analog: mention-count
    ranking, scip/query/primitives.py:234-357.
    """
    if until_converged:
        edges = edges.localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    if until_converged:
        nodes = nodes.localCheckpoint(eager=True)
        outdeg = outdeg.localCheckpoint(eager=True)

    def one_round(ranked: DataFrame) -> DataFrame:
        contrib = (
            edges.join(ranked, edges.src == ranked.node)
            .join(outdeg, "src")
            .select(F.col("dst").alias("node"),
                    (F.col("pr") / F.col("outdeg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("mass"))
        )
        return (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                F.round(
                    F.lit(1.0 - damping)
                    + F.lit(damping) * F.coalesce("mass", F.lit(0.0)),
                    round_to,
                ).alias("pr"),
            )
        )

    ranked = nodes.withColumn("pr", F.lit(1.0))
    if not until_converged:
        for _ in range(iters):
            ranked = one_round(ranked)
        return ranked
    from ..util import free_local_checkpoint

    ranked = ranked.localCheckpoint(eager=True)
    for _ in range(max_iters):
        nxt = one_round(ranked).localCheckpoint(eager=True)
        moved = (
            nxt.alias("a")
            .join(ranked.alias("b"), "node")
            .filter(F.abs(F.col("a.pr") - F.col("b.pr")) > tol)
            .count()
        )
        # the superseded round's blocks are dead as soon as `moved` is
        # computed — free them now, don't wait for GC/ContextCleaner
        free_local_checkpoint(ranked)
        ranked = nxt
        if moved == 0:
            break
    return ranked
