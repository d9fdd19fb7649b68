"""Read Spark's own metrics stores from outside the program.

Two stores are read after each action, and both work with
``spark.ui.enabled=false``:

- the SQL status store (``spark._jsparkSession.sharedState().statusStore()``)
  gives one record per SQL execution: submission and completion times,
  the job ids it ran, and every operator's metrics;
- the core status store (``sparkContext._jsc.sc().statusStore()``) gives
  per-job task and failed-task counts.

Spark formats operator metrics as display strings (``"3,223"``,
``"62.2 KiB"``, ``"total (min, med, max (stageId: taskId))\\n3.3 s (...)"``);
:func:`parse_metric` turns them into numbers with units. Records are plain
dicts so they can be written as JSON; :data:`EXECUTION_FIELDS` and
:data:`OPERATOR_FIELDS` pin their keys.
"""

from __future__ import annotations

import re
import time

EXECUTION_FIELDS = (
    "execution_id", "description", "submitted_ms", "completed_ms",
    "duration_ms", "job_ids", "jobs", "tasks", "failed_tasks", "operators",
)
OPERATOR_FIELDS = ("node_id", "name", "metrics")
METRIC_FIELDS = ("value", "unit")

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40, "PiB": 1 << 50, "EiB": 1 << 60}
_TIME_UNITS = {"ms": 1.0, "s": 1e3, "m": 60e3, "min": 60e3, "h": 3600e3}
_NUM = r"-?[\d,]*\.?\d+(?:[eE][-+]?\d+)?"
_VALUE_RE = re.compile(rf"({_NUM})\s*([A-Za-z]*)")


def _number(text: str) -> float:
    return float(text.replace(",", ""))


def parse_metric(text: str, metric_type: str) -> dict:
    """One formatted SQL metric -> ``{"value": float, "unit": str}``.

    ``metric_type`` is Spark's own type tag: ``sum`` (a count), ``size``
    (bytes), ``timing`` / ``nsTiming`` (reported in ms) or ``average``.
    A multi-task metric reads ``total (min, med, max ...)\\n<total> (...)``;
    its total is the value. An average metric has no total, so its
    median is the value."""
    body = text.strip()
    if "\n" in body:
        body = body.split("\n", 1)[1].strip()
        if metric_type == "average":
            # "(min, med, max (stageId: taskId)):\n(1, 1.5, 2 (stage ...))"
            parts = [p.strip() for p in body.strip("()").split(",")]
            return {"value": _number(parts[1]), "unit": "avg"}
    m = _VALUE_RE.match(body)
    if m is None:
        raise ValueError(f"unparsable {metric_type} metric: {text!r}")
    value, unit = _number(m.group(1)), m.group(2)
    if metric_type == "size":
        return {"value": value * _SIZE_UNITS[unit or "B"], "unit": "B"}
    if metric_type in ("timing", "nsTiming"):
        return {"value": value * _TIME_UNITS[unit or "ms"], "unit": "ms"}
    if metric_type == "average":
        return {"value": value, "unit": "avg"}
    return {"value": value, "unit": "count"}


def _opt(scala_option):
    return scala_option.get() if scala_option.isDefined() else None


def _millis(scala_option_date):
    d = _opt(scala_option_date)
    return None if d is None else int(d.getTime())


def _job_ids_of(execution) -> list[int]:
    ids, it = [], execution.jobs().keySet().iterator()
    while it.hasNext():
        ids.append(int(it.next()))
    return ids


class SparkMetricsReader:
    """Reads execution and job records that appeared since a mark.

    ``mark()`` remembers the newest execution and job ids;
    ``executions_since(mark)`` waits until the listener bus has delivered
    the end events of every newer execution, then returns their records.
    """

    def __init__(self, spark, settle_timeout_s: float = 10.0):
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._core = spark.sparkContext._jsc.sc().statusStore()
        self._settle_timeout_s = settle_timeout_s

    def _execution_ids(self) -> list[int]:
        execs = self._sql.executionsList()
        return [int(execs.apply(i).executionId()) for i in range(execs.size())]

    def _job_ids(self) -> list[int]:
        jobs = self._core.jobsList(None)
        return [int(jobs.apply(i).jobId()) for i in range(jobs.size())]

    def mark(self) -> dict:
        return {"execution_id": max(self._execution_ids(), default=-1),
                "job_id": max(self._job_ids(), default=-1)}

    def _settled(self, exec_ids: list[int]) -> bool:
        for eid in exec_ids:
            e = _opt(self._sql.execution(eid))
            if e is None or _opt(e.completionTime()) is None:
                return False
            if any(_opt(self._core.job(j).completionTime()) is None
                   for j in _job_ids_of(e)):
                return False
        return True

    def executions_since(self, mark: dict) -> list[dict]:
        ids = [i for i in self._execution_ids() if i > mark["execution_id"]]
        deadline = time.monotonic() + self._settle_timeout_s
        while not self._settled(ids) and time.monotonic() < deadline:
            time.sleep(0.02)
        return [self._execution(i) for i in sorted(ids)]

    def _task_counts(self, job_ids) -> tuple[int, int]:
        """(tasks run, tasks failed) over the given jobs."""
        tasks = failed = 0
        for jid in job_ids:
            j = self._core.job(jid)
            failed += int(j.numFailedTasks())
            tasks += int(j.numCompletedTasks()) + int(j.numFailedTasks()) \
                + int(j.numKilledTasks())
        return tasks, failed

    def jobs_since(self, mark: dict) -> dict:
        """Job, task and failed-task counts of every job newer than the
        mark, including jobs that belong to no SQL execution."""
        ids = [j for j in self._job_ids() if j > mark["job_id"]]
        tasks, failed = self._task_counts(ids)
        return {"jobs": len(ids), "tasks": tasks, "failed_tasks": failed}

    def _execution(self, eid: int) -> dict:
        e = _opt(self._sql.execution(eid))
        submitted = int(e.submissionTime())
        completed = _millis(e.completionTime())
        job_ids = _job_ids_of(e)
        tasks, failed = self._task_counts(job_ids)
        values = self._sql.executionMetrics(eid)
        nodes = self._sql.planGraph(eid).allNodes()
        operators = []
        for n in range(nodes.size()):
            node = nodes.apply(n)
            metrics = {}
            plan_metrics = node.metrics()
            for k in range(plan_metrics.size()):
                pm = plan_metrics.apply(k)
                text = _opt(values.get(pm.accumulatorId()))
                if text is not None:
                    metrics[pm.name()] = parse_metric(text, pm.metricType())
            if metrics:
                operators.append({"node_id": int(node.id()),
                                  "name": node.name().strip(),
                                  "metrics": metrics})
        return {
            "execution_id": eid,
            "description": str(e.description())[:120],
            "submitted_ms": submitted,
            "completed_ms": completed,
            "duration_ms": None if completed is None else completed - submitted,
            "job_ids": sorted(job_ids),
            "jobs": len(job_ids),
            "tasks": tasks,
            "failed_tasks": failed,
            "operators": operators,
        }


def metric_sum(executions: list[dict], metric: str,
               operator: str | None = None) -> float:
    """Sum one operator metric over executions, optionally only over
    operators whose name starts with ``operator``."""
    total = 0.0
    for e in executions:
        for op in e["operators"]:
            if operator is not None and not op["name"].startswith(operator):
                continue
            m = op["metrics"].get(metric)
            if m is not None:
                total += m["value"]
    return total


def summarize(executions: list[dict]) -> dict:
    """The per-call counters the benchmark records at each boundary."""
    return {
        "sql_executions": len(executions),
        "exec_ms": sum(e["duration_ms"] or 0 for e in executions),
        "shuffle_bytes": metric_sum(executions, "shuffle bytes written"),
        "spill_bytes": metric_sum(executions, "spill size"),
        "python_run_ms": metric_sum(executions, "time to run Python workers"),
        "python_init_ms": metric_sum(
            executions, "time to initialize Python workers"),
        "python_start_ms": metric_sum(
            executions, "time to start Python workers"),
        "arrow_sent_bytes": metric_sum(
            executions, "data sent to Python workers"),
        "arrow_returned_bytes": metric_sum(
            executions, "data returned from Python workers"),
        "python_rows_out": metric_sum(
            executions, "number of output rows", operator="MapInPandas"),
        "generate_rows": metric_sum(
            executions, "number of output rows", operator="Generate"),
        "scan_rows": metric_sum(
            executions, "number of output rows", operator="Scan"),
    }
