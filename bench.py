"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric", "value", "unit": "sec", "queries": {...}, "sf": ...}.

The KG pipeline runs over the matching seed-fixed pages fixture
(sf0.1 -> data/kg/sf_bench, 200k pages); fixture generation happens
BEFORE timing starts and is cached on disk. Scaling-efficiency evidence
(local[8] vs local[32], north rule) is produced by
tools/bench_scaling.py and recorded in BENCH.md; the latest numbers are
echoed into this JSON when present.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from code_indexer_spark.session import get_spark  # noqa: E402

BENCH_QUERIES = [
    # KG pipeline (pages fixtures)
    "kg_triples",
    "kg_chunks",
    "kg_edges",
    # dedup / similarity suite (driver tables)
    "minhash_lsh_pairs",
    "dedup_resolution",
    "jaccard_pairs_guarded",
    "embedding_dup_pairs_lsh",
    "ann_topk",
    "ann_lsh",
    "smart_context",
    "provider_parallel",
    # fusion / windows / scans
    "rrf_fusion",
    # training-data pipeline ops (round 2)
    "ngram_dup_spans",
    "tfidf_top_terms",
    # training-data / search ops (round 4)
    "bm25",
    "decontaminate",
    "url_dupes",
    "domain_cap",
    # training-data / multimodal ops (round 5)
    "simhash_pairs",
    "dsir_weights",
    "cooccur_pmi",
    "image_dims",
    "corpus_mix",
    "scrub_pii",
    "pagerank",
    "session_windows",
    "tumbling_window",
    "pricing_summary",
    "top_customers",
    "quality_score",
    "repetition_signals",
    "fingerprints",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    try:
        sf = float(sf_name.replace("sf", ""))
    except ValueError:
        sf = 0.1

    # materialize the pages fixture outside the timed region
    kg_dir = entrymod._kg_dir(sf_dir)
    n_pages = None

    spark = get_spark("bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()

    # Calibration probe (VERDICT r3 item 7): a FIXED scan-agg whose
    # plan never changes round to round, timed under the same best-of-2
    # protocol BEFORE and AFTER the query list. The shared host's
    # per-core speed drifts ±25% over minutes (BASELINE.md), so
    # cross-round comparisons of raw seconds conflate host weather with
    # plan changes; queries_calibrated (per-query seconds / mean
    # calibration seconds) is the drift-normalized series to compare
    # across rounds, and the start/end pair bounds how much the weather
    # moved WITHIN this run. Inlined here — independent of operator
    # code, so it can never change when operators do.
    from pyspark.sql import functions as F

    def calibration_probe() -> float:
        best = float("inf")
        for _ in range(2):
            t0 = time.monotonic()
            (spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
             .groupBy("l_returnflag")
             .agg(F.sum("l_quantity"), F.avg("l_extendedprice"),
                  F.count(F.lit(1)))
             .collect())
            best = min(best, time.monotonic() - t0)
        return best

    calib_start = calibration_probe()

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}
    total = 0.0
    for name in BENCH_QUERIES:
        # best-of-2: the first run warms Python workers / page cache, the
        # better run is the steady-state number — the same warm-executor
        # protocol as tools/bench_scaling.py (the shared sandbox host has
        # measured 2x slow windows; see BENCH.md)
        dt = float("inf")
        for _ in range(2):
            t0 = time.monotonic()
            df = queries[name](spark, sf_dir)
            n = df.count()
            dt = min(dt, time.monotonic() - t0)
        timings[name] = round(dt, 3)
        total += dt
        if name == "kg_triples":
            if n_pages is None:
                n_pages = spark.read.parquet(
                    os.path.join(kg_dir, "pages.parquet")).count()
            extras["kg_pages"] = n_pages
            extras["kg_triples_rows"] = n
            extras["triples_per_sec"] = round(n / dt, 1)
            extras["pages_per_sec"] = round(n_pages / dt, 1)

    calib_end = calibration_probe()
    calib_sec = (calib_start + calib_end) / 2

    out = {
        "metric": "bench_total_wall",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "calibration_start_sec": round(calib_start, 3),
        "calibration_end_sec": round(calib_end, 3),
        "calibration_sec": round(calib_sec, 3),
        "queries_calibrated": {
            name: round(t / calib_sec, 2) for name, t in timings.items()},
        "sf": sf,
        "cpus": int(cpus),
        **extras,
    }
    scaling_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "data", "scaling_latest.json")
    scaling = None
    if os.path.exists(scaling_path):
        with open(scaling_path) as f:
            scaling = json.load(f)
        out["scaling"] = scaling
    spark.stop()
    print(json.dumps(out))

    # VERDICT r4 item 3: the driver records only a 2000-char stdout
    # tail, and the full line above outgrew it in r4 (parsed: null, the
    # calibration numbers cut off). The LAST line is therefore a
    # compact summary, capped at 500 chars on a best-effort basis (the
    # driver-contract keys are always kept), that still satisfies the
    # driver contract ({"metric","value","unit","queries","sf"}) and
    # always carries the decision-relevant numbers: totals, the
    # calibration pair, scaling efficiency, and the top-5 calibrated
    # queries. Full detail is the line above.
    top5 = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5])
    compact = {
        "metric": "bench_total_wall",
        "value": round(total, 3),
        "unit": "sec",
        "sf": sf,
        "cpus": int(cpus),
        "n_queries": len(timings),
        "calibration_start_sec": round(calib_start, 3),
        "calibration_end_sec": round(calib_end, 3),
        "queries": top5,
        "queries_calibrated": {
            name: round(t / calib_sec, 2) for name, t in top5.items()},
        **{k: extras[k] for k in ("triples_per_sec", "pages_per_sec")
           if k in extras},
    }
    if scaling is not None:
        if "scaling_efficiency_median" in scaling:
            compact["scaling_median_eff"] = scaling[
                "scaling_efficiency_median"]
        if "scaling_efficiency" in scaling:
            compact["scaling_best_eff"] = scaling["scaling_efficiency"]
    print(compact_line(compact))


COMPACT_CAP = 500
# dropped in this order once every query is gone from the line
_COMPACT_OPTIONAL = ("queries_calibrated", "scaling_best_eff",
                     "scaling_median_eff")


def compact_line(compact: dict) -> str:
    """json.dumps(compact), shrunk to at most COMPACT_CAP chars: drop the
    fastest query (and its calibrated twin) first, then the optional
    keys in _COMPACT_OPTIONAL order. The driver-contract keys
    ({"metric","value","unit","queries","sf"}) and the totals are always
    kept, so only an sf path of several hundred chars can still
    overflow."""
    line = json.dumps(compact)
    while len(line) > COMPACT_CAP and compact["queries"]:
        drop = min(compact["queries"], key=lambda n: compact["queries"][n])
        compact["queries"].pop(drop)
        compact["queries_calibrated"].pop(drop, None)
        line = json.dumps(compact)
    for key in _COMPACT_OPTIONAL:
        if len(line) <= COMPACT_CAP:
            break
        compact.pop(key, None)
        line = json.dumps(compact)
    return line


if __name__ == "__main__":
    main()
