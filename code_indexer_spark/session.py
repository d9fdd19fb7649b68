"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]`` on one JVM; the config below is chosen so
the *same plan* holds on a 1000-executor cluster:

- AQE on (runtime coalesce + skew-join splitting — SURVEY.md §4 "skew");
- shuffle partitions sized for the local box, overridable by env;
- Arrow enabled for every pandas UDF boundary, with a bounded batch size
  so UDF stages stream instead of materializing whole partitions
  (the reference's token-aware batching analog, voyage_ai.py:835-901);
- broadcast threshold left at default 10 MB — the alias dictionary and
  rules table are far below it and broadcast automatically; we still
  broadcast() explicitly at join sites for plan stability.

At real scale the catalog would be Iceberg
(``spark.sql.catalog.*=org.apache.iceberg.spark.SparkCatalog``); the
runtime jar is not in this sandbox, so tables land as partitioned
parquet via sources/tables.py behind the same API.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"


def get_spark(
    app_name: str = "code-indexer-spark",
    master: str | None = None,
    shuffle_partitions: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # default: one task slot per CPU this process may run on
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS
    )
    # Task granularity: aim for >= 4 tasks per core on file scans so the
    # scan->UDF stages load-balance (stragglers cost <= 1/4 wave instead
    # of a full wave). Mirrors tasks >> slots on a real cluster.
    m = re.fullmatch(r"local\[(\d+|\*)\]", master)
    if m:
        cores = ((os.cpu_count() or 8) if m.group(1) == "*"
                 else int(m.group(1)))
    else:
        cores = os.cpu_count() or 8
    b = SparkSession.builder.appName(app_name).master(master) \
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")) \
        .config("spark.ui.enabled", "false") \
        .config("spark.driver.host", "127.0.0.1")
    for k, v in engine_conf(shuffle_partitions, cores).items():
        b = b.config(k, v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    # fail loudly at startup if the installed numpy's reduction order
    # broke embed_text's byte-exact determinism contract (kernel.embed)
    from .kernel.embed import assert_embed_golden

    assert_embed_golden()
    return b.getOrCreate()


def engine_conf(shuffle_partitions: str | None = None,
                cores: int | None = None) -> dict[str, str]:
    """The engine's SQL/Arrow tuning, master-agnostic — shared by
    get_spark (local) and the spark-submit job entry points (cluster),
    so the submitted job gets identical plans."""
    cores = cores or os.cpu_count() or 8
    return {
        "spark.sql.shuffle.partitions":
            shuffle_partitions or os.environ.get(
                "SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.files.maxPartitionBytes": "64m",
        "spark.sql.files.minPartitionNum": str(4 * cores),
        # default 4 MB open-cost floors the split count on ~100 MB bench
        # inputs; at real scale files are GB-sized and this is a no-op
        "spark.sql.files.openCostInBytes": "262144",
    }
