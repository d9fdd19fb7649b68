"""Two-parallelism scaling-efficiency measurement (north rule: >= 0.8
throughput scaling efficiency between N and 4N executors; in-sandbox
stand-in = local[N] vs local[4N] on identical input, mirroring the
reference's 1.7x two-worker throughput gate,
scripts/analysis/multi_worker_throughput.py:735).

Protocol (drift-aware):
- Each parallelism level runs in a FRESH subprocess (own JVM, cold
  caches), with the alias broadcast built and the Python workers warmed
  BEFORE the timed region — on a real cluster executors are long-lived,
  so worker fork/import cost is not part of steady-state throughput
  (the reference measures warm-server numbers the same way,
  docs/operating-modes.md:360-370).
- This sandbox is a shared host whose per-core speed drifts +-25% over
  minutes (measured: identical single-proc md5 loops at 1.95 vs 2.61
  Mhash/s half an hour apart). Comparing an N run against a 4N run
  taken minutes apart therefore biases eff by up to that drift. The
  protocol runs ADJACENT (N, 4N) pairs back-to-back, computes
  eff_i = throughput_4N_i / (4 * throughput_N_i) per pair, and reports
  the median and best pair — the adjacent pairing cancels slow drift.

Usage: python tools/bench_scaling.py [kg_dir] [N] [pairs]
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
from datetime import datetime, timezone

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {root!r})
import pyspark.sql.functions as F
from code_indexer_spark.session import get_spark
from code_indexer_spark.plans.pipeline import build_raw_triples, read_pages

spark = get_spark("scaling", master="local[{cores}]",
                  shuffle_partitions="{parts}")
spark.sparkContext.setLogLevel("ERROR")
kg = {kg!r}
pages = read_pages(spark, kg)
n_pages = pages.count()

# Warm-up (untimed): build the session's alias broadcast, fork + import
# the Python workers and build the per-worker AliasIndex on a ~2%
# url-hash sample; the timed run reuses the same broadcast.
warm = pages.filter(F.pmod(F.xxhash64("url"), F.lit(50)) == 0)
build_raw_triples(spark, kg, pages=warm).count()

t0 = time.monotonic()
n_triples = build_raw_triples(spark, kg, pages=pages).count()
dt = time.monotonic() - t0
print(json.dumps(dict(cores={cores}, wall_sec=round(dt, 3),
                      n_pages=n_pages, n_triples=n_triples,
                      pages_per_sec=round(n_pages / dt, 1),
                      triples_per_sec=round(n_triples / dt, 1))))
spark.stop()
"""


def run_level(kg: str, cores: int) -> dict:
    code = _CHILD.format(root=ROOT, cores=cores, parts=max(cores * 2, 8),
                         kg=kg)
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True)
    if out.returncode != 0:
        # surface the child's Spark/Python traceback — a bare
        # CalledProcessError would discard the only diagnostic and
        # show just the giant -c blob
        sys.stderr.write(out.stderr[-4000:])
        raise RuntimeError(
            f"scaling child (local[{cores}]) exited {out.returncode}; "
            "stderr above")
    line = [ln for ln in out.stdout.strip().splitlines()
            if ln.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    default_kg = os.path.join(ROOT, "data", "kg", "sf_scale")
    if not os.path.isdir(default_kg):
        default_kg = os.path.join(ROOT, "data", "kg", "sf_bench")
    kg = sys.argv[1] if len(sys.argv) > 1 else default_kg
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    n_pairs = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    pairs = []
    for i in range(n_pairs):
        rn = run_level(kg, n)
        r4 = run_level(kg, 4 * n)
        eff = round(r4["triples_per_sec"] / (4 * rn["triples_per_sec"]), 3)
        pairs.append({"N": rn, "4N": r4, "eff": eff})
        print(f"pair {i}: local[{n}] {rn['wall_sec']}s, "
              f"local[{4*n}] {r4['wall_sec']}s, eff={eff}", file=sys.stderr)

    best = max(pairs, key=lambda p: p["eff"])
    med_eff = round(statistics.median(p["eff"] for p in pairs), 3)
    summary = {
        "kg_dir": kg,
        "n_cores": n,
        "n4_cores": 4 * n,
        "n_pages": best["N"]["n_pages"],
        "n_triples": best["N"]["n_triples"],
        "pairs": pairs,
        "wall_sec_N": best["N"]["wall_sec"],
        "wall_sec_4N": best["4N"]["wall_sec"],
        "triples_per_sec_N": best["N"]["triples_per_sec"],
        "triples_per_sec_4N": best["4N"]["triples_per_sec"],
        "scaling_efficiency": best["eff"],
        "scaling_efficiency_median": med_eff,
        # the GATE is the median: one lucky drift window among the pairs
        # must not flip it; best-pair is reported for context only
        "passes_0_8_gate": med_eff >= 0.8,
        "passes_0_8_gate_best_pair": best["eff"] >= 0.8,
        "measured_at": datetime.now(timezone.utc).isoformat(),
    }
    os.makedirs(os.path.join(ROOT, "data"), exist_ok=True)
    with open(os.path.join(ROOT, "data", "scaling_latest.json"), "w") as f:
        json.dump(summary, f, indent=2)

    rows = "\n".join(
        f"| {i} | {p['N']['wall_sec']} | {p['4N']['wall_sec']} "
        f"| {p['N']['triples_per_sec']} | {p['4N']['triples_per_sec']} "
        f"| {p['eff']} |"
        for i, p in enumerate(pairs)
    )
    with open(os.path.join(ROOT, "BENCH.md"), "w") as f:
        f.write(f"""# BENCH — scaling-efficiency evidence (north rule)

Protocol: the triple-extraction pipeline (pages -> extract -> rules ->
link -> triples; the CPU-bound Arrow-UDF stage) runs on identical input
at two parallelism levels — local[{n}] (N) and local[{4*n}] (4N) — in
fresh JVMs with warmed Python workers; {n_pairs} ADJACENT (N, 4N) pairs
are measured back-to-back and `eff = throughput_4N / (4 x
throughput_N)` is computed per pair. Adjacent pairing cancels the
sandbox host's measured +-25% per-core speed drift; a real N-vs-4N
cluster comparison would run both sizes on identical hardware. This is
the in-sandbox stand-in for N vs 4N executors (see BASELINE.md),
mirroring the reference's two-worker >= 1.7x gate
(`scripts/analysis/multi_worker_throughput.py:735`).

| pair | wall N (s) | wall 4N (s) | triples/s N | triples/s 4N | eff |
|---|---|---|---|---|---|
{rows}

Input: `{kg}` — {best['N']['n_pages']} pages,
{best['N']['n_triples']} triples.

**Scaling efficiency: median {med_eff} (gate >= 0.8:
{'PASS' if med_eff >= 0.8 else 'FAIL'}); best pair {best['eff']}**

Measured {summary['measured_at']}.
""")
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
