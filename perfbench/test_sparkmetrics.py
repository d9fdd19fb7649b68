"""Pins the Spark-metrics reader: the parser on Spark's own formatted
strings, and the record schema read back from a real session started
with the program's ``session.get_spark`` (which disables the UI).

    python3 -m pytest perfbench/test_sparkmetrics.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from sparkmetrics import (  # noqa: E402
    EXECUTION_FIELDS, METRIC_FIELDS, OPERATOR_FIELDS, parse_metric,
    summarize,
)

MULTI = "total (min, med, max (stageId: taskId))\n"


@pytest.mark.parametrize("text, kind, value, unit", [
    ("3,223", "sum", 3223, "count"),
    ("0", "sum", 0, "count"),
    ("62.2 KiB", "size", 62.2 * 1024, "B"),
    ("0.0 B", "size", 0, "B"),
    (MULTI + "1590.9 KiB (48.3 KiB, 49.7 KiB, 53.0 KiB (stage 11.0: task 158))",
     "size", 1590.9 * 1024, "B"),
    (MULTI + "2.0 GiB (64.2 MiB, 64.2 MiB, 64.2 MiB (stage 7.0: task 12))",
     "size", 2.0 * 2 ** 30, "B"),
    ("413 ms", "timing", 413, "ms"),
    (MULTI + "3.3 s (767 ms, 877 ms, 1.7 s (stage 3.0: task 4))",
     "timing", 3300, "ms"),
    (MULTI + "1.5 m (1 s, 2 s, 3 s (stage 1.0: task 2))", "timing",
     90_000, "ms"),
    ("4 ms", "nsTiming", 4, "ms"),
    ("1.1", "average", 1.1, "avg"),
    ("(min, med, max (stageId: taskId)):\n(1, 1.5, 2 (stage 7.0: task 12))",
     "average", 1.5, "avg"),
])
def test_parse_metric(text, kind, value, unit):
    got = parse_metric(text, kind)
    assert tuple(got) == METRIC_FIELDS
    assert got["unit"] == unit
    assert got["value"] == pytest.approx(value)


def test_parse_metric_rejects_garbage():
    with pytest.raises(ValueError):
        parse_metric("n/a", "sum")


def test_record_schema_from_status_store():
    pytest.importorskip("pyspark")
    from code_indexer_spark.session import get_spark
    from sparkmetrics import SparkMetricsReader

    spark = get_spark("perfbench-test", master="local[2]",
                      shuffle_partitions="4")
    try:
        assert spark.conf.get("spark.ui.enabled") == "false"
        reader = SparkMetricsReader(spark)
        mark = reader.mark()
        rows = spark.range(0, 1000, 1, 4).selectExpr(
            "id % 7 AS k").groupBy("k").count().collect()
        assert len(rows) == 7
        execs = reader.executions_since(mark)
        jobs = reader.jobs_since(mark)
    finally:
        spark.stop()
    assert execs, "no SQL execution recorded"
    for e in execs:
        assert tuple(e) == EXECUTION_FIELDS
        assert e["completed_ms"] >= e["submitted_ms"]
        assert e["jobs"] == len(e["job_ids"]) >= 1
        assert e["tasks"] >= 1 and e["failed_tasks"] == 0
        for op in e["operators"]:
            assert tuple(op) == OPERATOR_FIELDS
            for m in op["metrics"].values():
                assert tuple(m) == METRIC_FIELDS
    assert jobs["jobs"] >= 1 and jobs["tasks"] >= 1
    assert jobs["failed_tasks"] == 0
    s = summarize(execs)
    assert s["sql_executions"] == len(execs)
    assert s["shuffle_bytes"] > 0  # the groupBy shuffles
    assert s["scan_rows"] == 0 and s["python_rows_out"] == 0
