"""Spark operator unit tests on tiny hand-computed inputs (dedup,
similarity, fusion, filters, graph)."""

import pyspark.sql.functions as F
import pytest


def test_exact_dupes(spark):
    from code_indexer_spark.operators.dedup import exact_dupes

    df = spark.createDataFrame(
        [(1, "aa"), (2, "bb"), (3, "aa"), (4, "aa")], ["doc_id", "text"])
    got = {(r["n_docs"], r["keep_id"]) for r in exact_dupes(df).collect()}
    assert got == {(3, 1)}


def test_jaccard_pairs_exact_value(spark):
    from code_indexer_spark.operators.dedup import jaccard_pairs

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "z y x w")],
        ["doc_id", "text"])
    # 3-shingles: {abc, bcd} vs {abc, bce} -> J = 1/3
    rows = jaccard_pairs(df, threshold=0.2).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id_a"], r["id_b"]) == (1, 2) and abs(r["jac"] - 1 / 3) < 1e-6


def test_minhash_matches_kernel(spark):
    from code_indexer_spark.kernel.hashes import minhash_signature, word_shingles
    from code_indexer_spark.operators.dedup import minhash_long

    text = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    got = {r["seed"]: r["minhash"]
           for r in minhash_long(df, num_hashes=8).collect()}
    expect = minhash_signature(word_shingles(text.split(), 3), 8)
    assert [got[i] for i in range(8)] == expect


def test_simhash_matches_kernel(spark):
    from code_indexer_spark.kernel.hashes import simhash_bits
    from code_indexer_spark.operators.dedup import simhash_bits_long

    text = "alpha beta gamma delta"
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    got = {r["bit_pos"]: r["bit"] for r in simhash_bits_long(df, bits=16).collect()}
    expect = simhash_bits(text.split(), 16)
    assert sum(got[j + 1] << (15 - j) for j in range(16)) == expect


def test_lsh_finds_exact_copies(spark):
    from code_indexer_spark.operators.dedup import lsh_candidate_pairs

    df = spark.createDataFrame(
        [(1, "one two three four five six"),
         (2, "one two three four five six"),
         (3, "seven eight nine ten eleven twelve")],
        ["doc_id", "text"])
    rows = lsh_candidate_pairs(df).collect()
    assert [(r["id_a"], r["id_b"]) for r in rows] == [(1, 2)]
    assert rows[0]["n_bands_shared"] == 8


def test_dedup_resolution_clusters(spark):
    """Cluster resolution: a 3-doc duplicate chain (A~B, B~C) collapses
    to one canonical keep id even when A and C never share a bucket
    edge directly — propagation closes the transitive link."""
    from code_indexer_spark.operators.dedup import dedup_resolution

    same = "one two three four five six"
    df = spark.createDataFrame(
        [(5, same), (2, same), (9, same),
         (7, "seven eight nine ten eleven twelve"),
         (8, "seven eight nine ten eleven twelve"),
         (3, "lonely unique document content here")],
        ["doc_id", "text"])
    got = {r.doc_id: (r.keep_id, r.is_canonical)
           for r in dedup_resolution(df).collect()}
    # doc 3 is in no pair -> absent; clusters keep their min id
    assert got == {2: (2, True), 5: (2, False), 9: (2, False),
                   7: (7, True), 8: (7, False)}


def _seeded_corpus():
    """60 seeded random docs over a 30-word vocabulary plus exact copies
    of the first five (ids 100-104), so resolution has clusters."""
    import random

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(30)]
    docs = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(0, 40))))
            for i in range(60)]
    return docs + [(100 + i, docs[i][1]) for i in range(5)]


def test_dedup_resolution_equals_union_find(spark):
    """dedup_resolution equals kernel.canon's plain-Python union-find
    over the same collected LSH candidate pairs: every paired doc, its
    component minimum as keep id, and is_canonical for the minimum."""
    import __spark_entry__ as entrymod
    from test_plan_shapes import SF_DIR

    from code_indexer_spark.kernel.canon import connected_components
    from code_indexer_spark.operators.dedup import (
        dedup_resolution, lsh_candidate_pairs)

    for df in (spark.createDataFrame(_seeded_corpus(), ["doc_id", "text"]),
               entrymod._corpus(spark, SF_DIR)):
        uf = connected_components(
            [(r.id_a, r.id_b) for r in lsh_candidate_pairs(df).collect()])
        got = sorted(map(tuple, dedup_resolution(df).collect()))
        assert got == sorted((n, root, n == root) for n, root in uf.items())
        assert any(n != root for n, root in uf.items())


def test_repetition_signals(spark):
    """Gopher repetition filters pinned on a hand-built degenerate doc."""
    from code_indexer_spark.operators.textstats import repetition_signals

    df = spark.createDataFrame(
        [(1, "spam spam spam spam"),            # one token dominates
         (2, "a b\nc d\na b\n\n a b "),        # 'a b' line repeats twice
         (3, "all tokens here are distinct")],
        ["doc_id", "text"])
    got = {r.id: r for r in repetition_signals(df).collect()}
    assert got[1].top_token_frac == 1.0
    # 4 tokens -> 3 bigrams, all 'spam spam' -> 2/3 repeats
    assert got[1].dup_2gram_frac == 0.666667
    assert got[2].n_lines == 4 and got[2].dup_line_frac == 0.5
    assert got[3].dup_line_frac == 0.0
    assert got[3].dup_2gram_frac == 0.0
    assert got[3].top_token_frac == 0.2


def test_dedup_and_repetition_invariants_random_corpus(spark):
    """Seeded random corpus: structural invariants that must hold for
    ANY input — fractions bounded, components closed under keep_id."""
    docs = _seeded_corpus()
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    from code_indexer_spark.operators.dedup import dedup_resolution
    from code_indexer_spark.operators.textstats import repetition_signals

    rows = repetition_signals(df).collect()
    assert len(rows) == len(docs)
    for r in rows:
        for frac in (r.dup_line_frac, r.dup_2gram_frac, r.top_token_frac):
            assert 0.0 <= frac <= 1.0, r
        # single-line docs can never have duplicate lines
        if r.n_lines <= 1:
            assert r.dup_line_frac == 0.0

    res = dedup_resolution(df).collect()
    keep = {r.doc_id: r.keep_id for r in res}
    for r in res:
        assert r.keep_id <= r.doc_id          # min-id policy
        assert r.is_canonical == (r.keep_id == r.doc_id)
        assert keep[r.keep_id] == r.keep_id   # canonicals map to selves
    # every planted copy resolves to its original's component
    for i in range(5):
        assert keep[100 + i] == keep[i]


def test_brute_force_topk_and_lsh(spark):
    from code_indexer_spark.operators.similarity import brute_force_topk, lsh_topk

    vecs = [(i, [1.0 if j == i % 4 else 0.1 for j in range(4)])
            for i in range(8)]
    emb = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    bf = brute_force_topk(emb, q, k=3)
    rows = bf.collect()
    assert rows[0]["neighbor_id"] == 0 and rows[0]["rank"] == 1
    assert rows[1]["neighbor_id"] == 4  # same direction as 0
    # LSH top-k is a subset of candidates but must rank its hits exactly
    lsh = lsh_topk(emb, q, k=3, dim=4).collect()
    assert lsh[0]["neighbor_id"] == 0


def test_rrf_hand_computed(spark):
    from code_indexer_spark.operators.fusion import fuse_rrf

    ranked = spark.createDataFrame(
        [("d1", "p1", 1), ("d2", "p1", 2), ("d1", "p2", 1)],
        ["doc", "provider", "rank"])
    got = {r["doc"]: (r["rrf_score"], r["n_providers"])
           for r in fuse_rrf(ranked, ["doc"]).collect()}
    assert got["d1"] == (round(2 / 61, 6), 2)
    assert got["d2"] == (round(1 / 62, 6), 1)


def test_score_gate_culls_weak_side(spark):
    from code_indexer_spark.operators.fusion import score_gate

    df = spark.createDataFrame(
        [(1, 1.0, 0.5), (2, 0.9, 0.78), (3, 0.2, 0.60), (4, None, 0.3)],
        "id long, score_a double, score_b double")
    # max_a=1.0, max_b=0.78 < 0.8 -> B is weaker: null out score_b
    # below 0.70, but NEVER drop the stronger side's result; a row
    # left with both sides null disappears
    got = {r.id: (r.score_a, r.score_b) for r in score_gate(df).collect()}
    assert got == {1: (1.0, None), 2: (0.9, 0.78), 3: (0.2, None)}


def test_build_filter_nested(spark):
    from code_indexer_spark.operators.filters import build_filter

    df = spark.createDataFrame(
        [(1, "click", 10.0), (2, "view", 30.0), (3, "click", 99.0),
         (4, "error", 20.0)],
        ["id", "etype", "value"])
    spec = {
        "must": [{"key": "value", "range": {"gte": 5.0, "lt": 50.0}}],
        "should": [{"key": "etype", "match": {"value": "click"}},
                   {"key": "etype", "match": {"value": "error"}}],
        "must_not": [{"key": "id", "match": {"value": 4}}],
    }
    assert sorted(r["id"] for r in df.filter(build_filter(spec)).collect()) == [1]


def test_glob_to_regex(spark):
    from code_indexer_spark.operators.filters import glob_to_regex

    import re
    rx = glob_to_regex("src/**/test_?.py")
    assert re.match(rx, "src/a/b/test_1.py")
    assert not re.match(rx, "src/a/b/test_12.py")
    rx2 = glob_to_regex("*.py")
    assert re.match(rx2, "x.py") and not re.match(rx2, "a/x.py")
    # glob negated class: [!a] rejects 'a', accepts others (fnmatch
    # semantics); a verbatim copy would invert this
    rx3 = glob_to_regex("[!a]bc")
    assert re.match(rx3, "xbc") and not re.match(rx3, "abc")
    assert re.match(glob_to_regex("[ab]c"), "ac")
    import fnmatch
    for pat in ("[!a]bc", "[ab]c", "x[!0-9]y"):
        for s_ in ("abc", "xbc", "ac", "bc", "x5y", "xzy"):
            assert bool(re.match(glob_to_regex(pat), s_)) == \
                fnmatch.fnmatchcase(s_, pat), (pat, s_)


def test_transitive_closure_and_paths(spark):
    from code_indexer_spark.operators.graph import (
        call_chains, impact_bfs, transitive_closure)

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("d", "b")],
        ["src", "dst"])
    tc = {(r["src"], r["dst"]): r["depth"]
          for r in transitive_closure(edges, 3).collect()}
    assert tc[("a", "b")] == 1 and tc[("a", "c")] == 1
    assert tc[("a", "d")] == 2  # via c (min depth)
    seeds = spark.createDataFrame([("d",)], ["node"])
    bfs = {r["node"]: r["dist"] for r in impact_bfs(edges, seeds, 3).collect()}
    assert bfs == {"c": 1, "a": 2, "b": 2}  # reverse reachability
    chains = [tuple(r["path"]) for r in call_chains(edges, "a", "d").collect()]
    assert ("a", "c", "d") in chains and ("a", "b", "c", "d") in chains


def test_incremental_anti_join(spark):
    from code_indexer_spark.operators.extract import incremental_anti_join

    new = spark.createDataFrame(
        [("u1", 0, "h1"), ("u1", 1, "h2"), ("u2", 0, "h3")],
        ["url", "chunk_index", "content_hash"])
    existing = spark.createDataFrame(
        [("u1", 0, "h1"), ("u1", 1, "OLD")],
        ["url", "chunk_index", "content_hash"])
    got = sorted((r["url"], r["chunk_index"])
                 for r in incremental_anti_join(new, existing).collect())
    assert got == [("u1", 1), ("u2", 0)]  # changed + brand new only


def test_filter_conflict_detection():
    """F10: contradictory specs detected before any job runs."""
    from code_indexer_spark.operators.filters import detect_filter_conflicts

    assert detect_filter_conflicts({
        "must": [{"key": "a", "match": {"value": 1}}],
        "must_not": [{"key": "a", "match": {"value": 1}}],
    })
    assert detect_filter_conflicts({
        "must": [{"key": "a", "match": {"value": 1}},
                 {"key": "a", "match": {"value": 2}}],
    })
    assert detect_filter_conflicts({
        "must": [{"key": "v", "range": {"gte": 10, "lt": 5}}],
    })
    assert detect_filter_conflicts({
        "must": [{"key": "v", "match": {"value": 100}},
                 {"key": "v", "range": {"lt": 50}}],
    })
    assert detect_filter_conflicts({
        "must": [{"key": "v", "range": {"gte": 5, "lt": 50}},
                 {"key": "t", "match": {"value": "x"}}],
        "must_not": [{"key": "t", "match": {"value": "y"}}],
    }) == []


def test_edge_salting_spreads_hot_subject(spark):
    """North rule: salted head-entity keys. A hot subject's edges must
    spread across multiple salt buckets while staying reconstructible
    (split(salted_key,'#')[0] == subj)."""
    import pyspark.sql.functions as F

    from code_indexer_spark.plans.pipeline import EDGE_SALT_BUCKETS, build_edges

    rows = [("HOT", f"p{i % 7}", f"o{i}", f"u{i}", "R0", 0.9)
            for i in range(200)]
    triples = spark.createDataFrame(
        rows, ["subj", "pred", "obj", "src_url", "rule_id", "confidence"])
    edges = build_edges(triples)
    got = edges.select(
        "salted_key",
        F.split("salted_key", "#").getItem(0).alias("recovered")).collect()
    assert all(r.recovered == "HOT" for r in got)
    n_buckets = len({r.salted_key.split("#")[1] for r in got})
    assert 1 < n_buckets <= EDGE_SALT_BUCKETS


def test_ivf_topk_recall(spark, sf001_dir="/root/testdata/sf0.001"):
    """IVF ANN: top-1 neighbor matches brute force for most queries
    (deterministic centroids, n_probe=4/16)."""
    import pyspark.sql.functions as F

    from code_indexer_spark.operators.similarity import (
        brute_force_topk, ivf_topk)

    emb = spark.read.parquet(f"{sf001_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    exact = {(r.query_id, r.neighbor_id) for r in
             brute_force_topk(emb, queries, k=1).collect()}
    approx = {(r.query_id, r.neighbor_id) for r in
              ivf_topk(emb, queries, k=1).collect()}
    assert len(approx) == len(exact) > 0
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall


def test_ann_recall_gates(spark, sf001_dir="/root/testdata/sf0.001"):
    """The accuracy contract for both ANN variants (VERDICT r1 item 3):
    - planted near-dup queries (sim ~0.995 to their source) must
      retrieve the source at rank 1 with recall >= 0.9 — the
      genuinely-similar-item task;
    - ivf recall@10 must rise with n_probe and beat the scan fraction
      (on near-uniform random fixture vectors recall ~= scan fraction
      is the information-theoretic floor; probing must not be worse)."""
    import pyspark.sql.functions as F

    from code_indexer_spark.operators.similarity import (
        brute_force_topk, ivf_topk, recall_report)

    emb = spark.read.parquet(f"{sf001_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    rep = {r.variant: r for r in recall_report(emb, queries, k=10).collect()}
    assert set(rep) == {"lsh_multiprobe", "ivf_probe4"}
    for v, r in rep.items():
        assert r.planted_self_recall_at_1 >= 0.9, (v, r)

    exact = brute_force_topk(emb, queries, k=10).select(
        "query_id", "neighbor_id")
    n_exact = exact.count()
    prev = 0.0
    for n_probe in (4, 12):
        approx = ivf_topk(emb, queries, k=10, n_probe=n_probe).select(
            "query_id", "neighbor_id")
        hit = exact.join(approx, ["query_id", "neighbor_id"],
                         "left_semi").count()
        recall = hit / n_exact
        assert recall >= 0.9 * (n_probe / 16), (n_probe, recall)
        assert recall >= prev
        prev = recall


def test_embedding_dup_pairs_lsh_planted_recall(spark):
    """Banded-LSH near-dup pairs: exact precision (subset of brute force
    with identical sims) and full recall of the planted duplicates at
    duplicate-level threshold — the 100 TB path must not miss real dups."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entrymod
    from code_indexer_spark.operators.dedup import (
        embedding_dup_pairs, embedding_dup_pairs_lsh)

    corpus = entrymod._emb_corpus(spark, "/root/testdata/sf0.001")
    brute = {(r.id_a, r.id_b): r.sim
             for r in embedding_dup_pairs(corpus, threshold=0.9).collect()}
    lsh = {(r.id_a, r.id_b): r.sim
           for r in embedding_dup_pairs_lsh(corpus, threshold=0.9).collect()}
    planted = {k for k in brute if k[1] == k[0] + 100000}
    assert len(planted) > 0
    assert set(lsh) <= set(brute)          # exact precision
    assert all(lsh[k] == brute[k] for k in lsh)
    assert planted <= set(lsh)             # full planted recall


def test_kmeans_centroids_improve_clustered_recall(spark):
    """Spherical-KMeans refinement (kmeans_centroids) must not lose to
    the uniform hash sample on clustered data — the IVF training job
    promised by the ivf_topk docstring, as a real DataFrame job."""
    import numpy as np
    import pyspark.sql.functions as F

    from code_indexer_spark.operators.similarity import (
        brute_force_topk, ivf_topk, kmeans_centroids)

    rng = np.random.default_rng(7)
    centers = rng.standard_normal((8, 64)) * 3
    pts = [(ci * 50 + j,
            [float(x) for x in centers[ci] + rng.standard_normal(64) * 0.4])
           for ci in range(8) for j in range(50)]
    emb = spark.createDataFrame(pts, ["vec_id", "embedding"])
    queries = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    exact = brute_force_topk(emb, queries, k=10).select(
        "query_id", "neighbor_id")
    n_exact = exact.count()

    def recall(cents):
        a = ivf_topk(emb, queries, k=10, n_probe=2,
                     centroids=cents).select("query_id", "neighbor_id")
        return exact.join(a, ["query_id", "neighbor_id"],
                          "left_semi").count() / n_exact

    km = kmeans_centroids(emb, n_centroids=16, iters=2)
    assert km.count() <= 16
    r_sample, r_km = recall(None), recall(km)
    assert r_km >= r_sample >= 0.8, (r_sample, r_km)
    # centroids are unit-normalized (spherical)
    row = km.collect()[0]
    assert abs(sum(x * x for x in row.centroid_vec) - 1.0) < 1e-3


def test_pagerank_properties(spark):
    """PageRank on a hand graph: star hub outranks leaves; dangling and
    isolated-source nodes keep base mass; deterministic."""
    from code_indexer_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "hub"), ("b", "hub"), ("c", "hub"), ("hub", "d")],
        ["src", "dst"])
    pr = {r.node: r.pr for r in pagerank(edges, iters=3).collect()}
    assert set(pr) == {"a", "b", "c", "hub", "d"}
    # sources a/b/c receive nothing: base mass 0.15
    assert pr["a"] == pr["b"] == pr["c"] == 0.15
    # exact 3-round recurrence: hub_1=2.7 -> hub_2=hub_3=0.5325;
    # d_3 = 0.15 + 0.85*hub_2 (hub's whole mass flows on, outdeg 1)
    assert pr["hub"] == 0.5325
    assert pr["d"] == round(0.15 + 0.85 * 0.5325, 8)
    assert pr == {r.node: r.pr for r in pagerank(edges, iters=3).collect()}


def test_pagerank_until_converged(spark):
    """until_converged (VERDICT r3 item 5): the checkpointed
    loop-until-stable mode reaches a fixed point — one more round moves
    no rounded score — and on the hand graph (diameter-bounded) it
    equals the bounded recurrence run to the same depth."""
    from code_indexer_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "hub"), ("b", "hub"), ("c", "hub"), ("hub", "d")],
        ["src", "dst"])
    conv = {r.node: r.pr for r in
            pagerank(edges, until_converged=True, tol=1e-6).collect()}
    # fixed point: this graph converges exactly by round 3 (hub's
    # inputs are sources that stabilize in round 1), so bounded == conv
    for iters in (3, 4, 10):
        assert conv == {r.node: r.pr for r in
                        pagerank(edges, iters=iters).collect()}, iters
    # max_iters runaway bound still returns a result
    one = {r.node: r.pr for r in
           pagerank(edges, until_converged=True, max_iters=1).collect()}
    assert set(one) == set(conv)


def test_deterministic_sample_properties(spark):
    """Content-keyed sampling: rate ~ fraction, stable under corpus
    growth (old rows keep their fate), partitioning-independent."""
    import pyspark.sql.functions as F

    from code_indexer_spark.operators.textstats import deterministic_sample

    docs = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    s = deterministic_sample(docs, "doc_id", 0.25)
    n = s.count()
    assert abs(n / 4000 - 0.25) < 0.03
    kept_small = {r.doc_id for r in deterministic_sample(
        docs.filter(F.col("doc_id") < 1000), "doc_id", 0.25).collect()}
    kept_all = {r.doc_id for r in s.collect()}
    assert kept_small == {k for k in kept_all if k < 1000}  # growth-stable
    repart = {r.doc_id for r in deterministic_sample(
        docs.repartition(7), "doc_id", 0.25).collect()}
    assert repart == kept_all


def test_empty_docs_make_no_shingles_or_pairs(spark):
    from code_indexer_spark.operators.dedup import (jaccard_pairs,
                                                    lsh_candidate_pairs,
                                                    minhash_long,
                                                    word_shingles_df)

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "real words here")], ["doc_id", "text"])
    assert word_shingles_df(df).filter("id in (1, 2)").count() == 0
    # two empty docs are NOT a jac=1.0 phantom near-dup pair
    assert jaccard_pairs(df, threshold=0.1).count() == 0
    # nor an all-'' minhash signature (the NULL-shingle vote canonicalize
    # uses for empty names), which would collide in every LSH band
    assert minhash_long(df).filter("id in (1, 2)").count() == 0
    assert lsh_candidate_pairs(df).count() == 0


def test_canonical_url_rules(spark):
    """Edge-case pins for the URL canonicalizer: default ports drop,
    real ports survive, fragments/tracking params strip, trailing and
    pre-query slashes collapse, scheme+host lowercase but path/query
    case is preserved (RFC 3986 §6.2.2.1)."""
    from code_indexer_spark.functions.columns import canonical_url

    cases = {
        "HTTP://Ex.COM:80/A/?utm_source=x#f": "http://ex.com/A",
        "https://ex.com:443/p?utm_a=1&id=2": "https://ex.com/p?id=2",
        "https://ex.com:8080/p/": "https://ex.com:8080/p",
        "https://Ex.com/p?id=2&gclid=abc": "https://ex.com/p?id=2",
        "https://ex.com/?fbclid=zz": "https://ex.com",
        "https://ex.com/CaseKept?Q=V": "https://ex.com/CaseKept?Q=V",
        # scheme-aware default ports: :443 is NOT default for http,
        # :80 is NOT default for https — both name real resources
        "http://ex.com:443/x": "http://ex.com:443/x",
        "https://ex.com:80/x": "https://ex.com:80/x",
        # a param whose NAME merely contains a tracker survives intact
        "https://ex.com/p?xfbclid=1&y=2": "https://ex.com/p?xfbclid=1&y=2",
        # a tracking-shaped VALUE is not excised out of another param
        "https://ex.com/p?r=utm_test=1&y=2": "https://ex.com/p?r=utm_test=1&y=2",
        # leading tracker followed by real params keeps exactly one '?'
        "https://ex.com/p?utm_a=1&utm_b=2&id=3": "https://ex.com/p?id=3",
        # every param a tracker -> query gone entirely
        "https://ex.com/p?utm_a=1&gclid=g": "https://ex.com/p",
        # literal '?' inside a VALUE is query bytes, not a query start:
        # an embedded '?utm_b=2' must never be excised
        "https://ex.com/p?a=1&r=?utm_b=2&y=3":
            "https://ex.com/p?a=1&r=?utm_b=2&y=3",
        # leading tracker stripped even with an embedded '?trk' later
        # (the ^-anchored pass matches once, identically on engines
        # that differ in replace-all defaults)
        "https://ex.com/p?utm_a=1&x=?utm_b=2&y=3":
            "https://ex.com/p?x=?utm_b=2&y=3",
        # trailing value ending in '?utm_x=1' is not a lone tracker
        "https://ex.com/p?id=a?utm_x=1": "https://ex.com/p?id=a?utm_x=1",
        # '&utm_' inside the PATH is out of scope for param stripping
        "https://ex.com/a&utm_b=c/d?id=1": "https://ex.com/a&utm_b=c/d?id=1",
    }
    df = spark.createDataFrame([(u,) for u in cases], ["url"])
    got = {r.url: r.c for r in
           df.select("url", canonical_url("url").alias("c")).collect()}
    assert got == cases


def test_decontaminate_flags_planted_overlap(spark):
    from code_indexer_spark.operators.dedup import decontaminate

    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely unrelated training text with no leak here"),
         (3, "contains the quick brown fox jumps verbatim inside")],
        ["doc_id", "text"])
    test = spark.createDataFrame(
        [(100, "benchmark says the quick brown fox jumps high")],
        ["doc_id", "text"])
    rows = {r.train_id: r for r in decontaminate(train, test, k=5).collect()}
    # docs 1 and 3 share the 5-gram "the quick brown fox jumps"
    assert set(rows) == {1, 3}
    assert rows[1].n_shared == 1
    assert rows[1].first_shingle == "the quick brown fox jumps"


def test_bm25_ranking_properties(spark):
    """BM25 on a hand corpus: rare-term match outranks common-term
    matches (IDF dominance), tf saturates rather than growing linearly,
    and docs containing no query term never appear."""
    from code_indexer_spark.operators.textstats import bm25_topk

    docs = spark.createDataFrame(
        [(1, "apple banana"),
         (2, "apple apple apple apple"),
         (3, "cherry pie"),
         (4, "nothing relevant here")],
        ["doc_id", "text"])
    rows = bm25_topk(docs, ["apple", "cherry"], k=10).collect()
    ids = [r.id for r in rows]
    assert 4 not in ids                      # no query term -> absent
    assert ids[0] == 3                       # df=1 'cherry' dominates
    by_id = {r.id: r.score for r in rows}
    assert by_id[2] > by_id[1]               # higher tf still wins...
    assert by_id[2] < 4 * by_id[1]           # ...but sublinearly (k1 sat)
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))


def test_call_chains_max_paths_exact_prefix(spark):
    """Beam exact-case property: when every kept prefix completes
    (K5-ish graph — each mid node has an edge to the target), the
    capped output equals the first N rows of the uncapped enumeration
    in (depth, lexicographic) order, even when truncation bites. In
    general the beam may miss completions of dropped prefixes (see
    call_chains docstring); the fixture pin covers the
    no-truncation-exact case."""
    from code_indexer_spark.operators.graph import call_chains

    # K5-ish: s -> {a,b,c,d} -> each other -> t (many simple paths)
    mids = ["a", "b", "c", "d"]
    edges = ([("s", m) for m in mids] + [(m, "t") for m in mids]
             + [(m, n) for m in mids for n in mids if m != n])
    df = spark.createDataFrame(edges, ["src", "dst"])
    full = [(tuple(r.path), r.depth) for r in
            call_chains(df, "s", "t", max_depth=5).collect()]
    for cap in (3, 7, 20):
        got = [(tuple(r.path), r.depth) for r in
               call_chains(df, "s", "t", max_depth=5,
                           max_paths=cap).collect()]
        assert got == full[:cap], cap


def test_repeat_calls_share_one_cache_entry(spark):
    """dsir_logweights and guarded jaccard_pairs persist their shared
    subtree; Spark's CacheManager matches a rebuilt plan by sameResult,
    so calling them again over the same input adds no cache entry, and
    the second run reads the first run's table."""
    from code_indexer_spark.operators.dedup import (
        jaccard_pairs, word_shingles_df)
    from code_indexer_spark.operators.textstats import (
        bigram_buckets, dsir_logweights)

    words = "amber basil cedar delta ember fjord grove harbor iris jade"
    docs = spark.createDataFrame(
        [(i, " ".join(words.split()[i % 5:] + ["doc", str(i % 7)]))
         for i in range(40)], ["doc_id", "text"])
    target = spark.createDataFrame(
        [(0, "amber basil cedar delta"), (1, "grove harbor iris jade")],
        ["doc_id", "text"])

    def build():
        return [dsir_logweights(docs, target),
                jaccard_pairs(docs, threshold=0.3, max_df=30)]

    def persisted():
        # ids, not a count: the context cleaner may drop other tests'
        # RDDs meanwhile
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted()
    first = [sorted(map(tuple, df.collect())) for df in build()]
    ours = persisted() - before
    assert len(ours) == 2, (before, ours)  # one entry per operator
    again = build()
    second = [sorted(map(tuple, df.collect())) for df in again]
    assert persisted() - before == ours
    assert second == first and all(first)
    for df in again:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan
    # the two entries are exactly the shared subtrees; release them
    for sub in (bigram_buckets(docs), word_shingles_df(docs)):
        sub.unpersist(blocking=True)
    assert not persisted() & ours


def test_repeat_chunks_persist_shares_one_cache_entry(spark, kg_small,
                                                     tmp_path):
    """kg_hybrid_search persists a freshly built chunks plan per call;
    the plan holds a Python UDF (mapInPandas), and CacheManager must
    still match the rebuilt plan, or every call would pin another copy
    of the chunk text and embeddings."""
    import shutil

    from code_indexer_spark.plans.pipeline import build_chunks

    # a private copy of the pages: other tests may have cached the
    # kg_small chunks plan already, which would hide the first entry
    kg_dir = str(tmp_path)
    shutil.copy(f"{kg_small}/pages.parquet", kg_dir)

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted()
    first = build_chunks(spark, kg_dir).persist()
    rows = sorted(map(tuple, first.select("point_id", "text")
                      .collect()))
    ours = persisted() - before
    assert len(ours) == 1, (before, ours)
    again = build_chunks(spark, kg_dir).persist()
    assert sorted(map(tuple, again.select("point_id", "text")
                      .collect())) == rows and rows
    assert persisted() - before == ours
    plan = again._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    first.unpersist(blocking=True)
    assert not persisted() & ours


def test_call_chains_releases_superseded_checkpoints(spark):
    """VERDICT r4 item 7: a deep traversal must leave at most ONE
    pinned round table (the final done checkpoint) — superseded ext /
    done rounds are freed deterministically via free_local_checkpoint,
    and the result is still correct AFTER the frees (nothing the output
    needs was unpersisted)."""
    from code_indexer_spark.operators.graph import call_chains

    def n_pinned():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    # 5-hop chain with side branches -> every round has a live frontier
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"),
         ("b", "x"), ("c", "y"), ("x", "c"), ("y", "e")],
        ["src", "dst"])
    before = n_pinned()
    rows = [(tuple(r.path), r.depth)
            for r in call_chains(edges, "a", "f", max_depth=5).collect()]
    assert (("a", "b", "c", "d", "e", "f"), 6) in rows  # went deep
    assert n_pinned() - before <= 1


def test_bm25_duplicate_query_terms_weighted(spark):
    """Lucene sums per query-term OCCURRENCE: a term given twice must
    contribute exactly twice its single weight."""
    from code_indexer_spark.operators.textstats import bm25_topk

    docs = spark.createDataFrame(
        [(1, "apple banana"), (2, "banana cherry"), (3, "other words")],
        ["doc_id", "text"])
    single = {r.id: r.score for r in
              bm25_topk(docs, ["apple"], k=10).collect()}
    double = {r.id: r.score for r in
              bm25_topk(docs, ["apple", "apple"], k=10).collect()}
    assert double[1] == pytest.approx(2 * single[1], abs=2e-6)


def test_bm25_precomputed_dl_column_identical(spark):
    """The at-rest fast path: a precomputed doc-length column must give
    byte-identical scores/ranks to the tokenize-derived default."""
    import pyspark.sql.functions as F

    from code_indexer_spark.operators.dedup import tokens_expr
    from code_indexer_spark.operators.textstats import bm25_topk

    docs = spark.createDataFrame(
        [(1, "apple banana apple"),
         (2, "apple cherry pie and more words here"),
         (3, "cherry cherry cherry"),
         (4, "")],
        ["doc_id", "text"])
    with_dl = docs.withColumn("dl", F.size(tokens_expr("text")))
    default = [tuple(r) for r in
               bm25_topk(docs, ["apple", "cherry"], k=10).collect()]
    fast = [tuple(r) for r in
            bm25_topk(with_dl, ["apple", "cherry"], k=10,
                      dl_col="dl").collect()]
    assert default == fast


def test_domain_cap_deterministic_and_growth_stable(spark):
    from code_indexer_spark.operators.textstats import domain_cap

    docs = [(i, f"src{i % 3}") for i in range(60)]
    df = spark.createDataFrame(docs, ["doc_id", "source"])
    kept = {(r.grp, r.key) for r in domain_cap(df, cap=5).collect()}
    # exactly cap per group, deterministic across invocations
    from collections import Counter
    per = Counter(g for g, _ in kept)
    assert per == {"src0": 5, "src1": 5, "src2": 5}
    assert kept == {(r.grp, r.key)
                    for r in domain_cap(df, cap=5).collect()}
    # growth stability: a doc kept under the GROWN corpus that already
    # existed before was also kept before (hash rank depends only on
    # the doc's own key — growth can only displace the tail, never
    # promote a previously-rejected old doc)
    grown = spark.createDataFrame(
        docs + [(100 + i, f"src{i % 3}") for i in range(30)],
        ["doc_id", "source"])
    kept_grown = {(r.grp, r.key)
                  for r in domain_cap(grown, cap=5).collect()}
    old_ids = {i for i, _ in docs}
    assert {(g, k) for g, k in kept_grown if k in old_ids} <= kept


def test_domain_cap_skewed_mega_domain_row_identical(spark):
    """VERDICT r4 item 1: the salted two-phase top-k must be
    row-identical (keys AND ranks) to the naive single-window plan on a
    deliberately skewed corpus — one mega-domain with 200x cap rows
    next to tiny domains (incl. a domain SMALLER than cap and one
    smaller than salt_buckets), across salt_buckets settings."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from code_indexer_spark.operators.textstats import domain_cap

    rows = ([(i, "megahost.example") for i in range(2000)]
            + [(10000 + i, "tiny.example") for i in range(3)]
            + [(20000 + i, "mid.example") for i in range(17)])
    df = spark.createDataFrame(rows, ["doc_id", "source"]).repartition(7)

    # naive single-window reference (the oracle-SQL form)
    h = F.md5(F.concat_ws("|", F.col("source"), F.col("doc_id")
                          .cast("string")))
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    expect = {(r.source, r.doc_id, r.rk) for r in
              df.select("source", "doc_id",
                        F.row_number().over(w).alias("rk"))
              .filter(F.col("rk") <= 10).collect()}

    for buckets in (1, 4, 64, 256):
        got = {(r.grp, r.key, r.rk) for r in
               domain_cap(df, cap=10, salt_buckets=buckets).collect()}
        assert got == expect, f"salt_buckets={buckets}"


def test_simhash_pairs_exact_vs_bruteforce(spark):
    """Banded blocking + rescore must equal the brute-force all-pairs
    Hamming filter exactly (the pigeonhole guarantee, max_hamming <
    bands), including hamming-0 exact dupes; parameter misuse raises."""
    import itertools

    import pytest

    from code_indexer_spark.operators.dedup import (
        simhash_bits_long, simhash_pairs,
    )

    texts = ["the quick brown fox jumps over the lazy dog",
             "the quick brown fox jumps over the lazy cat",
             "the quick brown fox jumps over the lazy dog",  # exact dup of 0
             "completely unrelated words about spark shuffles",
             "another entirely different document body here",
             "the quick brown fox leaps over the lazy dog"]
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 ["doc_id", "text"])

    sig = {}
    for r in simhash_bits_long(docs, bits=32).collect():
        sig.setdefault(r.id, {})[r.bit_pos] = r.bit
    brute = {}
    for a, b in itertools.combinations(sorted(sig), 2):
        ham = sum(sig[a][p] != sig[b][p] for p in range(1, 33))
        if ham <= 3:
            brute[(a, b)] = ham

    got = {(r.id_a, r.id_b): r.hamming
           for r in simhash_pairs(docs, bits=32, bands=4,
                                  max_hamming=3).collect()}
    assert got == brute
    assert (0, 2) in got and got[(0, 2)] == 0  # exact dup found

    # the 64-bit default (16-bit bands — the deployment band width;
    # positions 33-64 come from the seeded second hash) still finds the
    # exact dup at hamming 0 and returns a subset of the 32-bit answer
    # space restricted to truly-near pairs
    got64 = {(r.id_a, r.id_b): r.hamming
             for r in simhash_pairs(docs).collect()}
    assert got64[(0, 2)] == 0

    with pytest.raises(ValueError):
        simhash_pairs(docs, bits=32, bands=5)       # 32 % 5 != 0
    with pytest.raises(ValueError):
        simhash_pairs(docs, bands=4, max_hamming=4)  # pigeonhole broken
    with pytest.raises(ValueError):
        simhash_pairs(docs, bits=128, bands=4)       # > 2 hex digests
    with pytest.raises(ValueError):
        simhash_pairs(docs, bits=64, bands=1, max_hamming=0)  # r > 32


def test_simhash_pairs_persists_nothing(spark):
    """simhash_pairs blocks and rescores on the packed band keys, so no
    bits table is cached: a call adds no persistent RDD and its final
    plan reads no InMemoryTableScan."""
    from code_indexer_spark.operators.dedup import simhash_pairs

    words = "amber basil cedar delta ember fjord grove harbor iris jade"
    docs = spark.createDataFrame(
        [(i, " ".join(words.split()[i % 5:] + ["doc", str(i % 3)]))
         for i in range(30)], ["doc_id", "text"])

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted()
    df = simhash_pairs(docs)
    assert df.collect()
    assert not persisted() - before
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan


def test_cooccur_pmi_first_principles(spark):
    """Hand-computed PMI on 'a b a c', window=2: pairs (a,b)x2,
    (b,c)x1, (a,c)x1 -> P=4, endpoint counts a=3 b=3 c=2, so
    pmi(a,b)=ln(4*4*2/(3*3)) and pmi(b,c)=pmi(a,c)=ln(4*4*1/(3*2)),
    each rounded once to micro-nats. Self-pairs (a at i=1 with a at
    i=3) must be dropped, and ordering is (pmi desc, a, b)."""
    import math

    from code_indexer_spark.operators.textstats import cooccur_pmi

    docs = spark.createDataFrame([(1, "a b a c")], ["doc_id", "text"])
    rows = cooccur_pmi(docs, window=2, min_count=1, k=10).collect()
    got = [(r.a, r.b, r.c_ab, r.pmi) for r in rows]

    def mn(x):
        return math.floor(math.log(x) * 1e6 + 0.5) / 1e6

    assert got == [
        ("a", "b", 2, mn(4 * 4 * 2 / (3 * 3))),
        ("a", "c", 1, mn(4 * 4 * 1 / (3 * 2))),
        ("b", "c", 1, mn(4 * 4 * 1 / (3 * 2))),
    ]

    # min_count prunes the singleton pairs; k caps after the sort
    assert [(r.a, r.b) for r in
            cooccur_pmi(docs, window=2, min_count=2, k=10).collect()] \
        == [("a", "b")]
    assert len(cooccur_pmi(docs, window=2, min_count=1,
                           k=2).collect()) == 2

    with pytest.raises(ValueError):
        cooccur_pmi(docs, window=0)   # slice len 0 would emit nothing
    with pytest.raises(ValueError):
        cooccur_pmi(docs, min_count=0)


def test_dsir_logweights_orders_by_target_similarity(spark):
    """Target-like raw docs must score above off-target ones, and the
    micro-nat arithmetic must be reproducible from first principles
    (exact integer counts -> one rounded ln per bucket -> exact sum)."""
    import math

    from code_indexer_spark.operators.textstats import dsir_logweights

    target = spark.createDataFrame(
        [(100 + i, "apple banana cherry date") for i in range(5)],
        ["doc_id", "text"])
    raw = spark.createDataFrame(
        [(1, "apple banana cherry date"),        # on-distribution
         (2, "zebra xylophone quartz vortex"),   # off-distribution
         (3, "apple banana zebra xylophone"),    # mixed
         (4, "apple")],                          # short: no bigrams
        ["doc_id", "text"])
    got = {r.doc_id: r for r in dsir_logweights(raw, target).collect()}
    # doc 4 has no bigrams but must NOT vanish: a resampler joining
    # these weights back would otherwise silently drop every short doc
    assert set(got) == {1, 2, 3, 4}
    assert all(got[i].n_bigrams == 3 for i in (1, 2, 3))
    assert got[4].n_bigrams == 0 and got[4].logw == 0.0
    assert got[1].logw > got[3].logw > got[2].logw

    # first-principles check for doc 1: its 3 bigrams each appear 5x
    # in the 15-bigram target and 1x (docs 1) + 0/1x (doc 3 shares
    # 'apple banana') in the 9-bigram raw pool
    import hashlib
    B = 4096
    tgt_bg = ["apple banana", "banana cherry", "cherry date"] * 5
    raw_bg = (["apple banana", "banana cherry", "cherry date"]
              + ["zebra xylophone", "xylophone quartz", "quartz vortex"]
              + ["apple banana", "banana zebra", "zebra xylophone"])
    bucket = lambda g: hashlib.md5(g.encode()).hexdigest()[:3]
    tc, rc = {}, {}
    for g in tgt_bg:
        tc[bucket(g)] = tc.get(bucket(g), 0) + 1
    for g in raw_bg:
        rc[bucket(g)] = rc.get(bucket(g), 0) + 1
    expect = sum(
        math.floor(math.log((tc.get(bucket(g), 0) + 1) * (len(raw_bg) + B)
                            / ((rc[bucket(g)] + 1) * (len(tgt_bg) + B)))
                   * 1e6 + 0.5)
        for g in ["apple banana", "banana cherry", "cherry date"]) / 1e6
    assert got[1].logw == expect
