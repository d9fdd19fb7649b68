"""Recompute the kg_* value-hash goldens pinned in
tests/test_kg_graph.py::KG_VALUE_GOLDENS (run after an INTENTIONAL
kernel/nlp.py or fixture semantics change; see that test's comment).

Usage: python tools/print_kg_value_hashes.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from pyspark.sql import functions as F

    import __spark_entry__ as e
    from code_indexer_spark.session import get_spark

    spark = get_spark("kg-value-hashes")
    spark.sparkContext.setLogLevel("ERROR")
    # every rows-only queries() entry (the 13 kg_* Arrow-UDF paths) —
    # keep in sync with tests/test_kg_graph.py::KG_VALUE_GOLDENS
    for name in ["kg_triples", "kg_nodes", "kg_edges", "kg_pagerank",
                 "kg_chunks", "kg_mentions", "kg_search",
                 "kg_hybrid_search", "kg_time_range", "kg_graph_impact",
                 "kg_reconcile_incremental", "kg_call_chains",
                 "kg_smart_context"]:
        df = e.queries()[name](spark, sf_dir)
        cols = sorted(df.columns)
        row_h = F.md5(F.concat_ws(
            "|", *[F.col(c).cast("string") for c in cols]))
        x = df.select(row_h.alias("h")).agg(
            F.coalesce(F.expr("bit_xor(xxhash64(h))"), F.lit(0)).alias("x")
        ).collect()[0]["x"]
        print(f'    "{name}": ({df.count()}, {x}),')
    spark.stop()


if __name__ == "__main__":
    main()
