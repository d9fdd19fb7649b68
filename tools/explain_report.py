"""Dump formatted physical plans for the headline queries into
EXPLAIN.md — evidence that filters/column pruning reach the parquet
scan (PushedFilters / ReadSchema), small dims broadcast, and expression
work stays inside WholeStageCodegen.

Usage: python tools/explain_report.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from collections import defaultdict
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from code_indexer_spark.session import get_spark  # noqa: E402

REPORT_QUERIES = [
    "pricing_summary",      # agg + filter pushdown
    "top_customers",        # join strategy + top-k
    "incremental_scan",     # watermark predicate pushdown
    "glob_filter",          # rlike + contains pushdown
    "minhash_lsh_pairs",    # shuffle-heavy self-join
    "dedup_resolution",     # LSH pairs -> large-star/small-star components
    "jaccard_pairs_guarded",  # stop-shingle broadcast anti-join guard
    "embedding_dup_pairs_lsh",  # banded LSH blocking (the scale path)
    "point_get",            # S5 exact-key pruned scan
    "best_event_per_user",  # window dedup
    "ann_ivf",              # shuffle-free packed-codebook assignment
    "smart_context",        # G6 composite, TakeOrderedAndProject
    "kg_triples",           # Arrow UDF stage + broadcast mapping joins
    "kg_search",            # codegen cosine scoring over literal query vec
    "kg_time_range",        # warc_ts predicate pushed below the UDF stage
    "bm25",                 # postings isin() filter BEFORE the shuffle
    "decontaminate",        # test-shingle join, no forced broadcast
    "tfidf_top_terms",      # plain shuffle join on the vocabulary df
    "url_dupes",            # narrow regex math + one groupBy
    "simhash_pairs",        # banded Hamming bucket join + exact rescore
    "dsir_weights",         # bucket-count joins, 1-row total broadcasts
    "cooccur_pmi",          # JVM array pair-gen, partial-agg counts
    "domain_cap",           # salted two-phase per-domain top-k
]


# session-global counters in a plan's text: expression ids (u#2318L),
# exchange plan ids ([plan_id=19]) and RDD ids (MapPartitionsRDD[113])
_SESSION_IDS = re.compile(r"(#|plan_id=|RDD\[)(\d+)")


def normalize_ids(plan: str) -> str:
    """Renumber each kind of session-global id from 1 in order of first
    appearance, so a plan's text depends on its shape, not on how many
    plans the session built before it. Equal ids stay equal and
    distinct ids stay distinct within the plan."""
    seen: dict[str, dict[str, str]] = defaultdict(dict)

    def renumber(m: re.Match) -> str:
        ids = seen[m.group(1)]
        return m.group(1) + ids.setdefault(m.group(2), str(len(ids) + 1))

    return _SESSION_IDS.sub(renumber, plan)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()

    out = [
        "# EXPLAIN — physical plans of headline queries",
        "",
        f"`df.explain('formatted')` at `{sf_dir}`. What to look for:",
        "`PushedFilters` (predicates reached the parquet scan),",
        "`ReadSchema` (column pruning), `BroadcastHashJoin` (small dims",
        "never shuffle the big side), `WholeStageCodegen` spans (JVM-",
        "side expression work), `MapInPandas` only in the Arrow row",
        "stages (`util.arrow_rows`). Expression, exchange and",
        "RDD ids are renumbered from 1 within each plan, so regenerating",
        "this file changes only the plans whose shape changed.",
        "",
    ]
    for name in REPORT_QUERIES:
        df = queries[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out += [f"## {name}", "", "```", normalize_ids(buf.getvalue().rstrip()),
                "```", ""]

    with open(os.path.join(ROOT, "EXPLAIN.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote EXPLAIN.md ({len(REPORT_QUERIES)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
