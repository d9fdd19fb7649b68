"""Operator-level unit tests with tiny hand-computed inputs
(SURVEY.md §5 test-strategy mirror: RRF sums, minhash/jaccard,
simhash, rules, linking)."""

import numpy as np

from code_indexer_spark.kernel.embed import bucket_of, cosine, embed_text
from code_indexer_spark.kernel.hashes import (
    char_shingles, fingerprint, hamming, jaccard, lsh_bands,
    minhash_signature, simhash_bits, word_shingles)
from code_indexer_spark.kernel.nlp import (
    AliasIndex, match_rules, normalize_surface, split_sentences)


def test_shingles():
    assert char_shingles("abcd", 3) == {"abc", "bcd"}
    assert char_shingles("ab", 3) == {"ab"}
    assert word_shingles(["a", "b", "c", "d"], 3) == {"a b c", "b c d"}


def test_jaccard():
    assert jaccard({"a", "b"}, {"b", "c"}) == 1 / 3
    assert jaccard(set(), set()) == 1.0
    assert jaccard({"a"}, set()) == 0.0


def test_minhash_estimates_jaccard():
    a = {f"sh{i}" for i in range(100)}
    b = {f"sh{i}" for i in range(50, 150)}  # J = 50/150 = 1/3
    sa = minhash_signature(a, 128)
    sb = minhash_signature(b, 128)
    est = sum(1 for x, y in zip(sa, sb) if x == y) / 128
    assert abs(est - 1 / 3) < 0.12


def test_minhash_deterministic_and_banded():
    s = minhash_signature({"x", "y"}, 8)
    assert s == minhash_signature({"y", "x"}, 8)
    bands = lsh_bands(s, 4)
    assert len(bands) == 4 and all(len(k) == 32 for _, k in bands)


def test_simhash_similarity():
    t1 = "the quick brown fox jumps over the lazy dog".split()
    t2 = "the quick brown fox jumps over the lazy cat".split()
    t3 = "completely different words entirely here now".split()
    h1, h2, h3 = (simhash_bits(t, 32) for t in (t1, t2, t3))
    assert hamming(h1, h2) < hamming(h1, h3)
    assert simhash_bits(t1, 32) == h1  # deterministic


def test_fingerprint_shape():
    fp = fingerprint("a b c d e f".split())
    assert fp.count("|") == 3 and len(fp) == 4 * 32 + 3


def test_embed_deterministic_unit_norm():
    v1 = embed_text("hello world")
    v2 = embed_text("hello world")
    assert np.array_equal(v1, v2)
    assert abs(float(np.linalg.norm(v1)) - 1.0) < 1e-5
    assert v1.dtype == np.float32
    assert cosine(v1, v1) > 0.999
    assert len(bucket_of(v1)) == 4


def test_bucket_alphabet_of_unit_vectors(kg_small):
    """Unit vectors quantize each dim to level 1 or 2 only, so every
    hex digit of a chunk's vbucket is one of 5, 6, 9, a (256 reachable
    buckets, not 65,536)."""
    import pyarrow.parquet as pq

    from code_indexer_spark.kernel.chunker import chunk_text
    from code_indexer_spark.kernel.extract import extract_text

    html = pq.read_table(f"{kg_small}/pages.parquet",
                         columns=["html"]).column("html").to_pylist()
    buckets = {bucket_of(embed_text(c["text"])) for h in html
               for c in chunk_text(extract_text(h), 1000)}
    assert len(buckets) > 100
    assert set("".join(buckets)) == set("569a")
    assert bucket_of(embed_text("")) == "aaaa"  # the zero vector


def test_sentence_split():
    assert split_sentences("A b. C d! E?\nF g") == ["A b.", "C d!", "E?", "F g"]


def test_match_rules_first_match_and_punct():
    got = match_rules("Acme Corp acquired Beta Labs.")
    assert got == [("Acme Corp", "acquired", "Beta Labs", "R009")]
    assert match_rules("no relations here") == []
    # phrase at position 0 is not a relation (no subject)
    assert match_rules("founded Acme Corp") == []


def test_alias_linking_rerank():
    rows = [
        ("Acme Corp", "E1", "org", 0.9, "Acme Corp"),
        ("Acme", "E1", "org", 0.9, "Acme Corp"),
        ("Acme Labs", "E2", "org", 0.5, "Acme Labs"),
        ("Acme", "E2", "org", 0.5, "Acme Labs"),
        ("Jo Vance", "E3", "person", 0.7, "Jo Vance"),
    ]
    idx = AliasIndex(rows)
    ctx = embed_text("Acme Corp acquired something")
    # unambiguous
    eid, score, cands = idx.link("Acme Corp", "org", ctx)
    assert eid == "E1" and cands == ["E1"]
    # ambiguous: prior 0.9 beats 0.5 after rerank
    eid, _, cands = idx.link("Acme", "org", ctx)
    assert eid == "E1" and set(cands) == {"E1", "E2"}
    # type constraint filters
    assert idx.link("Jo Vance", "org", ctx) is None
    assert idx.link("Unknown Name", None, ctx) is None


def test_detect_mentions_longest_match():
    rows = [
        ("Acme", "E1", "org", 0.9, "Acme"),
        ("Acme Corp", "E2", "org", 0.9, "Acme Corp"),
    ]
    idx = AliasIndex(rows)
    got = idx.detect_mentions("we saw Acme Corp yesterday and acme too")
    assert [(p, a) for p, a, _ in got] == [(2, "acme corp"), (6, "acme")]


def test_normalize_surface():
    assert normalize_surface("  Acme-Corp, Inc.  ") == "acme corp inc"


def test_decode_bytes_none_and_empty_doc_shingles():
    """NULL html decodes to '' (degrades, never crashes the batch); an
    empty doc contributes zero shingles, matching the kernel set."""
    from code_indexer_spark.kernel.extract import decode_bytes, extract_page

    assert decode_bytes(None) == ""
    assert extract_page(None) == ("", [])
