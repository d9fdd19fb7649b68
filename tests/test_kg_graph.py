"""G1–G5/pagerank over the REAL KG edges table (VERDICT r2 item 5):
the graph operators must compose with build_edges output — salted_key
stripped back to src — not just the TPC-H co-supplier analog.

Counts are pinned on the seed-fixed sf_small fixture (1000 pages);
kernel/fixture determinism means these are stable across runs,
partitionings, and hosts."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def kg_sf_dir(kg_small) -> str:
    # queries() callables take the TESTDATA sf dir; _kg_dir maps
    # sf0.001 -> the kg_small fixture the session fixture generated
    return "/root/testdata/sf0.001"


def test_kg_graph_impact_pinned(spark, kg_sf_dir):
    import __spark_entry__ as e

    rows = e.queries()["kg_graph_impact"](spark, kg_sf_dir).collect()
    assert len(rows) == 485
    by_dist = {}
    for r in rows:
        by_dist[r.dist] = by_dist.get(r.dist, 0) + 1
    # BFS layers are disjoint (min-dist semantics) and seeds excluded
    assert set(by_dist) == {1, 2, 3}
    assert sum(by_dist.values()) == len(set(r.node for r in rows)) == 485


def test_kg_pagerank_pinned(spark, kg_sf_dir):
    import __spark_entry__ as e

    rows = e.queries()["kg_pagerank"](spark, kg_sf_dir).collect()
    assert len(rows) == 20
    # the hub entity and its per-round-rounded score are exact pins
    assert rows[0].node == "E00928"
    assert rows[0].pr == pytest.approx(13.40375469, abs=1e-8)
    # scores are returned in strictly ranked order
    prs = [r.pr for r in rows]
    assert prs == sorted(prs, reverse=True)


# --- value-hash goldens (VERDICT r3 item 3; ALL 13 rows-only entries
# since r5 per VERDICT r4 item 2) ------------------------------------
# Counts alone can't catch a semantics-changing edit to kernel/nlp.py,
# kernel/extract.py, or plans/search.py that preserves row counts;
# these pin the VALUES of every queries() entry without a SQL oracle.
# The hash is the same order-insensitive xor-fold used by the
# determinism proof in BASELINE.md: md5 over all columns (sorted by
# name, cast to string) per row, bit_xor(xxhash64) across rows —
# stable under any partitioning/shuffle order (verified: 3 identical
# generator runs). Regression tripwire, not an independent oracle: if
# a kernel change is INTENTIONAL, recompute with
# tools/print_kg_value_hashes.py and update the pins.
# kg_reconcile_incremental's hash EQUALS kg_triples's by design —
# incremental reconcile must reproduce the full rebuild exactly.
# The link-score paths (triples, edges, mentions, time_range,
# reconcile) were re-pinned when kernel/embed.py's cosine and norm
# moved off BLAS np.dot onto a fixed-order reduction: the old pins
# held only on CPUs whose OpenBLAS sdot kernel happened to match.
KG_VALUE_GOLDENS = {
    "kg_triples": (3888, 1561450277611213233),
    "kg_nodes": (986, 3439483732569019467),
    "kg_edges": (3839, -1033300026418338506),
    "kg_pagerank": (20, 8219871388199408271),
    "kg_chunks": (1149, 4228013792244408945),
    "kg_mentions": (10313, -6732255816022901768),
    "kg_search": (10, -4546840856386697571),
    "kg_hybrid_search": (10, -1537754732062503421),
    "kg_time_range": (2481, 853647643230885833),
    "kg_graph_impact": (485, 434999015061485390),
    "kg_reconcile_incremental": (3888, 1561450277611213233),
    "kg_call_chains": (13, -4454629892932413791),
    "kg_smart_context": (20, -865150099066178475),
}


@pytest.mark.parametrize("name", sorted(KG_VALUE_GOLDENS))
def test_kg_value_hash_golden(spark, kg_sf_dir, name):
    from pyspark.sql import functions as F

    import __spark_entry__ as e

    df = e.queries()[name](spark, kg_sf_dir)
    cols = sorted(df.columns)
    row_h = F.md5(F.concat_ws(
        "|", *[F.col(c).cast("string") for c in cols]))
    got = df.select(row_h.alias("h")).agg(
        F.coalesce(F.expr("bit_xor(xxhash64(h))"), F.lit(0)).alias("x")
    ).collect()[0]["x"]
    n_exp, h_exp = KG_VALUE_GOLDENS[name]
    assert df.count() == n_exp
    assert got == h_exp, (
        f"{name}: values diverged from pinned golden (count unchanged "
        "checks pass separately) — if intentional, rerun "
        "tools/print_kg_value_hashes.py and update KG_VALUE_GOLDENS")


def test_kg_smart_context_pinned(spark, kg_sf_dir):
    import __spark_entry__ as e

    rows = e.queries()["kg_smart_context"](spark, kg_sf_dir).collect()
    assert len(rows) == 20
    assert [r.read_priority for r in rows] == list(range(1, 21))
    # the fixture's hub entity is a pure sink (never a subject), so the
    # curated list is led by depth-1 dependent pages at score 0.7
    assert rows[0].file == "https://site0.example/p/194"
    assert rows[0].relevance_score == 0.7
    scores = [r.relevance_score for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_kg_call_chains_pinned(spark, kg_sf_dir):
    import __spark_entry__ as e

    rows = e.queries()["kg_call_chains"](spark, kg_sf_dir).collect()
    assert len(rows) == 13
    # shortest chain first: the direct hub->sink edge
    assert rows[0].path == ["E00245", "E00993"] and rows[0].depth == 2
    depths = [r.depth for r in rows]
    # depth = node count: max_depth=4 edge hops -> up to 5 nodes
    assert depths == sorted(depths) and set(depths) == {2, 3, 4, 5}
    # simple paths: no repeated node within a chain
    assert all(len(set(r.path)) == len(r.path) for r in rows)
