"""The repository benchmark: one command, seeded workloads, checked outputs.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md for why each was chosen):

- ``kg_build``: one cold ``plans.pipeline.run_pipeline`` per fresh
  process at ``local[nproc]``, as a spark-submit job runs it;
- ``corpus_dedup``: ``simhash_pairs``, ``lsh_candidate_pairs``,
  ``cooccur_pmi`` and ``dsir_logweights`` over the seeded pages' text
  with planted near-duplicates, repeated for ``--seconds``.

Every Spark session runs in a fresh child process (``worker.py``); this
process generates the inputs, samples the child's process tree for peak
RSS, checks every output against a plain-Python oracle and prints the
metrics. ``--trace 1`` is a separate run that records spans and Spark
metrics around each public call and prints the per-layer metrics.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
RUN_BUDGET_S = 170  # every run must end within 180 s

# kg_scaling is not a BENCHMARK.json workload: it runs two cold pipelines
# (local[nproc], then local[1]) for build_scaling_eff, which does not fit
# the benchmark's time budget (4 + 22 x workloads runs in 3,420 s)
WORKLOADS = ("kg_build", "corpus_dedup", "kg_scaling")


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def available_cores() -> int:
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------ process tree

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_stats():
    """(pid, fields after the command name) of every process, from /proc."""
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                yield int(name), f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # the process ended while we looked


def group_alive(pgid: int) -> bool:
    return any(int(fields[2]) == pgid and fields[0] != "Z"
               for _, fields in _proc_stats())


def tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of ``root_pid`` and all its descendants, from /proc."""
    parent, rss = {}, {}
    for pid, fields in _proc_stats():
        parent[pid] = int(fields[1])
        rss[pid] = int(fields[21]) * _PAGE
    total = 0
    for pid in rss:
        p = pid
        while p > 1 and p != root_pid:
            p = parent.get(p, 0)
        if p == root_pid:
            total += rss[pid]
    return total


class PeakRss(threading.Thread):
    def __init__(self, pid: int, interval_s: float = 0.2):
        super().__init__(daemon=True)
        self.pid, self.interval_s = pid, interval_s
        self.peak = 0
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.pid))
            self._done.wait(self.interval_s)

    def stop(self) -> int:
        self._done.set()
        self.join()
        return self.peak


# ----------------------------------------------------------------- children

# process groups of running workers, so a terminated run stops them too
_RUNNING: set[int] = set()


def _stop_children(signum, _frame) -> None:
    for pgid in list(_RUNNING):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    sys.exit(128 + signum)



def child_env(run_dir: str) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    env["TMPDIR"] = tmp
    env["SPARK_SUBMIT_OPTS"] = " ".join(
        p for p in (env.get("SPARK_SUBMIT_OPTS"),
                    f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p)
    return env


def run_child(spec: dict, run_dir: str, deadline: float) -> tuple[dict, int]:
    """Run one worker process; return (its result, peak tree RSS)."""
    n = len([x for x in os.listdir(run_dir) if x.startswith("spec-")])
    spec_path = os.path.join(run_dir, f"spec-{n}.json")
    result_path = os.path.join(run_dir, f"result-{n}.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    log = open(os.path.join(run_dir, f"worker-{n}.log"), "w")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), spec_path,
         result_path], cwd=run_dir, env=child_env(run_dir),
        stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
    _RUNNING.add(proc.pid)
    started = time.monotonic()
    sampler = PeakRss(proc.pid)
    sampler.start()
    try:
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    finally:
        peak = sampler.stop()
        log.close()
    # the JVM and Python workers are in the child's session: make sure
    # none outlives it
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    for _ in range(100):
        if not group_alive(proc.pid):
            break
        time.sleep(0.1)
    _RUNNING.discard(proc.pid)
    if not os.path.exists(result_path):
        return {"ops": [], "data": {"fatal": f"worker exit {proc.returncode}"
                                    " without a result"},
                "spans": [], "tracer_self_s": 0.0}, peak
    with open(result_path) as f:
        result = json.load(f)
    result["data"]["process_wall_s"] = time.monotonic() - started
    return result, peak


# ------------------------------------------------------------------ helpers


def median(xs):
    return statistics.median(xs) if xs else None


def versions() -> dict:
    from importlib.metadata import PackageNotFoundError, version

    out = {"python": sys.version.split()[0]}
    for pkg in ("pyspark", "numpy", "pyarrow", "pandas"):
        try:
            out[pkg] = version(pkg)
        except PackageNotFoundError:
            out[pkg] = None
    release = os.path.join(os.environ.get("JAVA_HOME", ""), "release")
    if os.path.exists(release):
        with open(release) as f:
            for line in f:
                if line.startswith("JAVA_VERSION="):
                    out["java"] = line.split("=", 1)[1].strip().strip('"')
    return out


class Checks:
    """Output checks, each attached to the op whose output it checks; a
    failed check turns that op into a failure."""

    def __init__(self):
        self.results: list[dict] = []

    def add(self, name: str, ok: bool, detail: str = "",
            op: dict | None = None) -> None:
        self.results.append({"check": name, "ok": bool(ok),
                             "detail": detail})
        if not ok and op is not None and op.get("ok", True):
            op.update(ok=False, error="OutputMismatch",
                      message=f"{name}: {detail}")
        print(f"check {name}: {'ok' if ok else 'FAILED'} {detail}",
              flush=True)

    @property
    def all_ok(self) -> bool:
        return all(r["ok"] for r in self.results)


def find_op(result: dict, name: str) -> dict | None:
    for op in result["ops"]:
        if op["name"] == name:
            return op
    return None


# ------------------------------------------------------------- KG checks


# a triples row as the checks compare it; link_score and confidence are
# left out (CPU-dependent, ROADMAP Blocker)
TRIPLE_ROW = ["subj", "pred", "obj", "src_url", "rule_id"]


def check_build(checks: Checks, result: dict, oracle: dict,
                tag: str = "") -> None:
    import oracles

    op = find_op(result, "plans.pipeline.run_pipeline")
    out = result["data"].get("build_out")
    if op is None or not op["ok"] or out is None:
        return
    counts = result["data"]["build_counts"] or {}
    rows = Counter(oracles.read_rows(f"{out}/triples.parquet", TRIPLE_ROW))
    got = {k[:4] for k in rows}
    p, r = oracles.precision_recall(got, oracle["triples"])
    checks.add(f"{tag}triples_pr", p == 1.0 and r == 1.0,
               f"P={p:.4f} R={r:.4f} n={len(got)}", op)
    why = oracles.multiset_diff(rows, oracle["triple_rows"])
    checks.add(f"{tag}triple_rows", not why,
               why or f"{sum(rows.values())} rows, one per extraction", op)
    chunks = len(oracles.read_rows(f"{out}/chunks.parquet", ["point_id"]))
    checks.add(f"{tag}chunk_count", chunks == oracle["chunks"]
               == counts.get("chunks"),
               f"{chunks} vs chunk_text {oracle['chunks']}", op)
    edges = oracles.read_rows(f"{out}/edges.parquet", ["subj", "pred", "obj"])
    checks.add(f"{tag}edges", len(edges) == len(set(edges))
               and set(edges) == oracle["edges"],
               f"{len(edges)} vs {len(oracle['edges'])}", op)
    nodes = {n for (n,) in oracles.read_rows(f"{out}/nodes.parquet",
                                             ["entity_id"])}
    checks.add(f"{tag}nodes", nodes == oracle["nodes"],
               f"{len(nodes)} vs {len(oracle['nodes'])}", op)


def check_layers(checks: Checks, result: dict, oracle: dict,
                 delta: dict) -> None:
    import oracles

    data = result["data"]
    chunks_dir = f"{data.get('build_out')}/chunks.parquet"
    for q in data.get("queries", []):
        op = result["ops"][q["op"]]
        if q["rows"] is None or not q["kind"].startswith("semantic_exact"):
            continue
        lang = "en" if q["kind"].endswith("_lang") else None
        why = oracles.semantic_topk_check(chunks_dir, q["text"], q["k"],
                                          lang, q["rows"])
        checks.add(f"search[{q['kind']} {q['text']!r} k={q['k']}]",
                   why is None, why or "", op)
    op = find_op(result, "plans.pipeline.run_incremental")
    if op is not None and op["ok"]:
        # the rebuild's rows, each as often as the full build has it
        got = Counter(oracles.read_rows(data["incremental_out"], TRIPLE_ROW))
        why = oracles.multiset_diff(got, oracle["triple_rows"])
        checks.add("incremental_equals_rebuild", not why,
                   why or f"{sum(got.values())} rows", op)
    op = find_op(result, "sources.tables.reconcile_status")
    if op is not None and op["ok"]:
        st = data["reconcile_status"]
        want = {"added": len(delta["added"]),
                "changed": len(delta["changed"]),
                "deleted": len(delta["deleted"])}
        checks.add("reconcile_counts",
                   all(st.get(k, 0) == v for k, v in want.items()),
                   json.dumps(st, sort_keys=True), op)


def check_checkpoint(checks: Checks, result: dict, oracle: dict) -> None:
    import oracles

    op = find_op(result, "plans.checkpoint.resume")
    if op is None or not op["ok"]:
        return
    rows = oracles.read_rows(result["data"]["checkpoint_dir"] + "/triples",
                             TRIPLE_ROW + ["triple_id"])
    # every row as often as an uninterrupted run writes it: a slice
    # written twice doubles its triple_ids, a lost slice drops them
    why = oracles.multiset_diff(Counter(r[:5] for r in rows),
                                oracle["triple_rows"])
    bad_ids = sum(1 for r in rows if r[5] != oracles.triple_id(*r[:4]))
    want_ids = sum(oracle["triple_rows"].values())
    checks.add("resume_equals_uninterrupted", not why and not bad_ids,
               why or f"{len(rows)} rows, {len({r[5] for r in rows})} "
               f"distinct triple_id, {bad_ids} ids not sha2(s|p|o|url), "
               f"uninterrupted {want_ids} rows", op)


# ---------------------------------------------------------- corpus checks


def corpus_oracle(kg_dir: str) -> dict:
    import pyarrow.parquet as pq

    import oracles

    docs = [tuple(r.values()) for r in
            pq.read_table(f"{kg_dir}/docs.parquet").to_pylist()]
    return {
        "operators.dedup.simhash_pairs": oracles.simhash_pairs(docs),
        "operators.dedup.lsh_candidate_pairs":
            oracles.lsh_candidate_pairs(docs),
        "operators.textstats.cooccur_pmi":
            oracles.cooccur_pmi([t for _, t in docs]),
        "operators.textstats.dsir_logweights": oracles.dsir_logweights(
            [d for d in docs if d[0] % 10 != 0],
            [t for i, t in docs if i % 10 == 0]),
    }


def check_corpus(checks: Checks, result: dict, want: dict,
                 planted: list) -> None:
    outputs = result["data"].get("corpus_outputs") or {}
    ops = {op["name"]: op for op in result["ops"]}
    planted_pairs = {tuple(p) for p in planted}
    for name, got in outputs.items():
        if got is None:
            continue  # the call failed and is already counted
        got, w, op = [tuple(r) for r in got], want[name], ops[name]
        short = name.rsplit(".", 1)[1]
        if name.startswith("operators.dedup."):
            checks.add(short, set(got) == w,
                       f"{len(got)} pairs vs {len(w)}", op)
            checks.add(f"{short}.planted_recall",
                       planted_pairs <= {(a, b) for a, b, _ in got},
                       f"{len(planted_pairs)} planted", op)
        elif short == "cooccur_pmi":
            same = len(got) == len(w) and all(
                a[:3] == b[:3] and abs(a[3] - b[3]) <= 1e-6
                for a, b in zip(sorted(got), sorted(w)))
            checks.add(short, same, f"{len(got)} rows vs {len(w)}", op)
        else:
            bad = [r for r in got if r[0] not in w or w[r[0]][0] != r[1]
                   or abs(w[r[0]][1] - r[2]) > 1e-6]
            checks.add(short, not bad and len(got) == len(w),
                       f"{len(got)} rows vs {len(w)}, {len(bad)} differ", op)


# ------------------------------------------------------------ per layer


def spans_named(spans: list[dict], prefix: str) -> list[dict]:
    return [s for s in spans if s["name"].startswith(prefix)]


def span_total(spans: list[dict], attr: str) -> float:
    return float(sum(s["attrs"].get(attr, 0) or 0 for s in spans))


def job_layers(job_spans: list[dict], all_spans: list[dict]) -> dict:
    """Generic counters of a workload's timed job (one or more spans)."""
    from spans import self_time_s

    wall = sum(s["end"] - s["start"] for s in job_spans)
    # time outside SQL executions: planning, scheduling, result transfer
    outside = sum(self_time_s(all_spans, s["span_id"], "sql.execution.")
                  for s in job_spans)
    return {
        "job.wall_s": wall,
        "job.outside_sql_s": outside,
        "job.spark_jobs": span_total(job_spans, "jobs"),
        "job.tasks": span_total(job_spans, "tasks"),
        "job.sql_executions": span_total(job_spans, "sql_executions"),
        "job.shuffle_bytes": span_total(job_spans, "shuffle_bytes"),
        "job.spill_bytes": span_total(job_spans, "spill_bytes"),
        "job.arrow_sent_bytes": span_total(job_spans, "arrow_sent_bytes"),
        "job.generate_rows": span_total(job_spans, "generate_rows"),
        "job.scan_rows": span_total(job_spans, "scan_rows"),
    }


def kg_layer_detail(result: dict, html_bytes: int, n_pages: int) -> dict:
    """The workload-specific per-layer metrics of the kg_build traced run."""
    spans = result["spans"]
    out = {}
    run = spans_named(spans, "plans.pipeline.run_pipeline")
    if run:
        r = run[0]
        a = r["attrs"]
        out.update({
            "plans.pipeline.run_wall_s": r["end"] - r["start"],
            "plans.pipeline.spark_jobs": a.get("jobs"),
            "plans.pipeline.tasks": a.get("tasks"),
            "plans.pipeline.shuffle_bytes": a.get("shuffle_bytes"),
            "plans.pipeline.spill_bytes": a.get("spill_bytes"),
            "plans.pipeline.html_passes":
                (a.get("arrow_sent_bytes") or 0) / max(1, html_bytes),
        })
        canon = [s for s in spans_named(
            spans, "operators.canonicalize.canonical_mapping")
            if s["parent_id"] == r["span_id"]]
        if canon:
            out["operators.canonicalize.mapping_wall_s"] = \
                canon[0]["end"] - canon[0]["start"]
            out["operators.canonicalize.mapping_spark_jobs"] = \
                canon[0]["attrs"].get("jobs")
    for name, key in (("operators.triples.extract_triples_fused", "triples"),
                      ("operators.extract.build_chunks_fused", "chunks")):
        s = [x for x in spans_named(spans, name) if x["parent_id"] is None]
        if not s:
            continue
        a, pre = s[0]["attrs"], ("operators.triples." if key == "triples"
                                 else "operators.extract.chunks_")
        wall = s[0]["end"] - s[0]["start"]
        if key == "triples":
            out.update({
                f"{pre}wall_s": wall,
                f"{pre}python_run_s": a.get("python_run_ms", 0) / 1e3,
                f"{pre}python_init_s": a.get("python_init_ms", 0) / 1e3,
                f"{pre}arrow_sent_bytes": a.get("arrow_sent_bytes"),
                f"{pre}arrow_returned_bytes": a.get("arrow_returned_bytes"),
                f"{pre}rows_out": a.get("python_rows_out"),
            })
        else:
            out.update({
                f"{pre}wall_s": wall,
                f"{pre}python_run_s": a.get("python_run_ms", 0) / 1e3,
                f"{pre}arrow_returned_bytes": a.get("arrow_returned_bytes"),
                f"{pre}rows_out": a.get("python_rows_out"),
            })
    s = [x for x in spans_named(spans, "operators.canonicalize.apply_canonical")
         if x["parent_id"] is None]
    if s:
        out["operators.canonicalize.apply_wall_s"] = s[0]["end"] - s[0]["start"]
    s = spans_named(spans, "sources.tables.reconcile_status")
    if s:
        out["sources.tables.reconcile_wall_s"] = s[0]["end"] - s[0]["start"]
    st = result["data"].get("reconcile_status") or {}
    work = st.get("added", 0) + st.get("changed", 0)
    out["plans.pipeline.incremental_work_pages"] = work
    out["plans.pipeline.incremental_work_ratio"] = work / max(1, n_pages)
    by_kind: dict[str, list[dict]] = {}
    for q in result["data"].get("queries", []):
        span_id = result["ops"][q["op"]]["span_id"]
        by_kind.setdefault(q["kind"], []).append(spans[span_id])
    for kind, ss in sorted(by_kind.items()):
        n = len(ss)
        exec_ms = span_total(ss, "exec_ms")
        wall_ms = sum(x["end"] - x["start"] for x in ss) * 1e3
        results = sum(len(q["rows"] or []) for q in result["data"]["queries"]
                      if q["kind"] == kind)
        out[f"plans.search.{kind}.plan_ms"] = (wall_ms - exec_ms) / n
        out[f"plans.search.{kind}.exec_ms"] = exec_ms / n
        out[f"plans.search.{kind}.spark_jobs_per_query"] = \
            span_total(ss, "jobs") / n
        out[f"plans.search.{kind}.rows_scanned_per_result"] = \
            span_total(ss, "scan_rows") / max(1, results)
    return out


def checkpoint_layer_detail(result: dict) -> dict:
    """plans.checkpoint.* from the crash and resume spans. Per-slice
    counts come from the resume's slice writes (its ``parquet``
    executions), not from the canonical mapping it rebuilds first."""
    import sparkmetrics

    spans, data = result["spans"], result["data"]
    crash = spans_named(spans, "plans.checkpoint.crash")
    resume = spans_named(spans, "plans.checkpoint.resume")
    if not (crash and resume and data.get("checkpoint_dir")):
        return {}
    with open(os.path.join(data["checkpoint_dir"], "checkpoints.jsonl")) as f:
        rows = [json.loads(line) for line in f]
    resumed = data["checkpoint_slices"] - data["checkpoint_crash_after"]
    writes = [e for e in resume[0].get("executions", [])
              if e["description"].startswith("parquet")]
    pages_done = sum(r["rows_in"] for r in rows[-resumed:])
    return {
        "plans.checkpoint.crash_wall_s": crash[0]["end"] - crash[0]["start"],
        "plans.checkpoint.slice_wall_s":
            median([r["wall_ms"] / 1e3 for r in rows]),
        "plans.checkpoint.spark_jobs_per_slice":
            sum(e["jobs"] for e in writes) / max(1, len(writes)),
        "plans.checkpoint.scan_rows_per_page":
            sparkmetrics.summarize(writes)["scan_rows"] / max(1, pages_done),
    }


def corpus_layer_detail(result: dict) -> dict:
    out = {}
    short = {"operators.dedup.simhash_pairs": ("operators.dedup", "simhash"),
             "operators.dedup.lsh_candidate_pairs": ("operators.dedup", "lsh"),
             "operators.textstats.cooccur_pmi": ("operators.textstats", "pmi"),
             "operators.textstats.dsir_logweights":
                 ("operators.textstats", "dsir")}
    for s in result["spans"]:
        if s["name"] in short and s["parent_id"] is None:
            mod, op = short[s["name"]]
            a = s["attrs"]
            out[f"{mod}.{op}_wall_s"] = s["end"] - s["start"]
            out[f"{mod}.{op}_generate_rows"] = a.get("generate_rows")
            out[f"{mod}.{op}_shuffle_bytes"] = a.get("shuffle_bytes")
            out[f"{mod}.{op}_spill_bytes"] = a.get("spill_bytes")
    return out


# ---------------------------------------------------------------- workloads


def prepare(workload: str, seed: int, run_dir: str) -> dict:
    import inputs

    kg_dir = os.path.join(run_dir, "inputs")
    t = time.perf_counter()
    if workload != "corpus_dedup":
        inputs.generate_pages(kg_dir, inputs.KG_PAGES, seed)
        planted, extra = [], ()
    else:
        inputs.generate_pages(kg_dir, inputs.CORPUS_PAGES, seed)
        planted, extra = inputs.write_corpus(kg_dir, seed), ("docs.parquet",)
    gen_s = time.perf_counter() - t
    return {"kg_dir": kg_dir, "gen_s": gen_s, "planted": planted,
            "fingerprint": inputs.fingerprint(kg_dir, extra)}


def spec_for(prep: dict, run_dir: str, cores: int, trace: int,
             tasks: list[str], run_id: str | None, **extra) -> dict:
    n = len([x for x in os.listdir(run_dir) if x.startswith("out-")])
    out_dir = os.path.join(run_dir, f"out-{n}")
    os.makedirs(out_dir)
    return {"kg_dir": prep["kg_dir"], "out_dir": out_dir, "cores": cores,
            "trace": trace, "tasks": tasks, "run_id": run_id, **extra}


JOB = {"kg_build": (["build"], ("plans.pipeline.run_pipeline",)),
       "corpus_dedup": (["corpus"], ("operators.dedup.simhash_pairs",
                                     "operators.dedup.lsh_candidate_pairs",
                                     "operators.textstats.cooccur_pmi",
                                     "operators.textstats.dsir_logweights"))}


def job_wall(res: dict, workload: str) -> float | None:
    """Wall time of the workload's job in one worker; None if any of
    its calls failed."""
    names = JOB[workload][1]
    ops = [op for op in res["ops"] if op["name"] in names]
    if len(ops) != len(names) or not all(op["ok"] for op in ops):
        return None
    return sum(op["wall_s"] for op in ops)


def run_untraced(args, prep, run_dir, deadline) -> tuple[list, list]:
    """Fresh worker processes, each set up and running the workload's job
    once, cold, until --seconds of job time is measured (at least one)."""
    results, peaks, measured = [], [], 0.0
    started = time.monotonic()
    while True:
        res, peak = run_child(spec_for(prep, run_dir, args.cores, 0,
                                       JOB[args.workload][0], run_id=None),
                              run_dir, deadline)
        results.append(res)
        peaks.append(peak)
        wall = job_wall(res, args.workload)
        measured += wall if wall is not None else float("inf")
        per_child = (time.monotonic() - started) / len(results)
        if (measured >= args.seconds
                or deadline - time.monotonic() < 1.5 * per_child):
            break
    return results, peaks


def run_kg_build(args, prep, run_dir, deadline, checks, record) -> dict:
    import oracles

    import inputs

    n_pages = inputs.KG_PAGES
    res1 = None
    if args.workload == "kg_scaling":
        # the scaling pair: the same cold run_pipeline at local[nproc] and
        # at local[1], in adjacent fresh processes
        res, peak = run_child(spec_for(prep, run_dir, args.cores, 0,
                                       ["build"], None), run_dir, deadline)
        results, peaks = [res], [peak]
        res1, _ = run_child(spec_for(prep, run_dir, 1, 0, ["build"], None),
                            run_dir, deadline)
    elif not args.trace:
        results, peaks = run_untraced(args, prep, run_dir, deadline)
    else:
        delta = inputs.make_delta(prep["kg_dir"], args.seed)
        queries = inputs.query_mix(prep["kg_dir"], args.seed, 14)
        res, peak = run_child(spec_for(
            prep, run_dir, args.cores, 1, ["build", "kg_layers"],
            record["run_id"], delta=delta, queries=queries),
            run_dir, deadline)
        results, peaks = [res], [peak]
    oracle = oracles.kg_oracle(prep["kg_dir"])
    for i, res in enumerate(results):
        check_build(checks, res, oracle,
                    tag=f"child{i}." if len(results) > 1 else "")
    named = {}
    walls = [w for w in (job_wall(r, "kg_build") for r in results)
             if w is not None]
    if walls:
        named["build_pages_per_s"] = (n_pages / median(walls), "pages/s")
    if res1 is not None:
        check_build(checks, res1, oracle, tag="local1.")
        w1 = job_wall(res1, "kg_build")
        if w1 is not None and walls:
            named["build_scaling_eff"] = (w1 / (args.cores * walls[0]),
                                          "ratio")
    if args.trace:
        check_layers(checks, results[0], oracle, delta)
        data = results[0]["data"]
        qs = [results[0]["ops"][q["op"]]["wall_s"] * 1e3
              for q in data.get("queries", []) if q["rows"] is not None]
        if qs:
            named["query_p50_ms"] = (median(qs), "ms")
            named["query_p90_ms"] = (statistics.quantiles(qs, n=10)[-1],
                                     "ms")
            record["query_samples"] = len(qs)
        op = find_op(results[0], "plans.pipeline.run_incremental")
        if op and op["ok"]:
            named["delta_s"] = (op["wall_s"], "s")
    return {"results": results, "peaks": peaks, "named": named,
            "n_items": n_pages,
            "all_results": results + ([res1] if res1 else [])}


def run_corpus(args, prep, run_dir, deadline, checks, record) -> dict:
    import pyarrow.parquet as pq

    import oracles

    if not args.trace:
        results, peaks = run_untraced(args, prep, run_dir, deadline)
    else:
        res, peak = run_child(spec_for(prep, run_dir, args.cores, 1,
                                       ["corpus", "checkpoint"],
                                       record["run_id"]), run_dir, deadline)
        results, peaks = [res], [peak]
        check_checkpoint(checks, res, oracles.kg_oracle(prep["kg_dir"]))
    want = corpus_oracle(prep["kg_dir"])
    for res in results:
        check_corpus(checks, res, want, prep["planted"])
    n_docs = pq.read_metadata(f"{prep['kg_dir']}/docs.parquet").num_rows
    walls = [w for w in (job_wall(r, "corpus_dedup") for r in results)
             if w is not None]
    named = {}
    if walls:
        named["corpus_docs_per_s"] = (n_docs / median(walls), "docs/s")
    op = find_op(results[0], "plans.checkpoint.resume")
    if op and op["ok"]:
        named["resume_s"] = (op["wall_s"], "s")
    return {"results": results, "peaks": peaks, "named": named,
            "n_items": n_docs, "all_results": results}


def setup_seconds(res: dict) -> float | None:
    d = res["data"]
    if "get_spark_s" not in d or "warmup_s" not in d:
        return None
    return d["get_spark_s"] + d["warmup_s"] + d.get("corpus_warmup_s", 0.0)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None,
                    help="Spark local[N]; default and maximum: the CPUs "
                         "this process may run on")
    args = ap.parse_args()
    started = time.monotonic()
    deadline = started + RUN_BUDGET_S

    if not os.path.isfile(os.path.join(ROOT, "code_indexer_spark",
                                       "session.py")):
        fail(f"the program (code_indexer_spark/) is not under {ROOT}")
    nproc = available_cores()
    args.cores = args.cores or nproc
    if not 1 <= args.cores <= nproc:
        fail(f"--cores {args.cores} refused: this host has {nproc} CPUs, "
             f"and local[{args.cores}] would oversubscribe them")
    if args.workload == "kg_scaling" and args.trace:
        fail("kg_scaling has no traced run")
    sys.path.insert(0, ROOT)
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, _stop_children)

    import kernels

    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-"
                                 f"t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "cores": args.cores, "nproc": nproc,
        "versions": versions(),
        "OPENBLAS_CORETYPE": os.environ.get("OPENBLAS_CORETYPE"),
        "run_id": f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
                  f"-{int(time.time())}",
        "skipped": [],
    }
    calib = [kernels.calibrate_ms()]
    try:
        prep = prepare(args.workload, args.seed, run_dir)
        record.update(fingerprint=prep["fingerprint"], gen_s=prep["gen_s"])
        print(f"inputs: sha256={prep['fingerprint']} "
              f"generated in {prep['gen_s']:.2f} s (not in setup_s)",
              flush=True)
        layers = {}
        if args.trace:
            layers.update(kernels.measure(prep["kg_dir"]))
        checks = Checks()
        runner = run_corpus if args.workload == "corpus_dedup" \
            else run_kg_build
        out = runner(args, prep, run_dir, deadline, checks, record)
        calib.append(kernels.calibrate_ms())
        record["calib_ms"] = calib
        summary = result_line(args, record, prep, out, checks, layers,
                              calib)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if summary is None:
        return 1
    print(json.dumps(summary))
    return 0


def result_line(args, record, prep, out, checks, layers, calib):
    results, peaks = out["results"], out["peaks"]
    ops = [op for r in out["all_results"] for op in r["ops"]]
    fatal = [r["data"]["fatal"] for r in out["all_results"]
             if r["data"].get("fatal")]
    attempted = len(ops) + len(fatal)
    failed = sum(1 for op in ops if not op["ok"]) + len(fatal)
    for op in ops:
        if not op["ok"]:
            print(f"failed op {op['name']}: {op['error']} "
                  f"{op.get('message', '')}", flush=True)
    for msg in fatal:
        print(f"worker failed: {msg}", flush=True)
    setups = [s for s in map(setup_seconds, results) if s is not None]
    named = dict(out["named"])
    if setups:
        named["setup_s"] = (median(setups), "s")
    if peaks:
        named["peak_rss_mb"] = (median(peaks) / 2 ** 20, "MB")
    named["ops_failed_ratio"] = (failed / max(1, attempted), "ratio")
    for name, (value, unit) in sorted(named.items()):
        print(f"metric {name} = {value:.6g} {unit}", flush=True)
    record.update(named_metrics={k: {"value": v, "unit": u}
                                 for k, (v, u) in named.items()},
                  ops=[{k: op.get(k) for k in ("name", "wall_s", "ok",
                                               "error")} for op in ops],
                  setups=[{k: r["data"].get(k) for k in (
                      "get_spark_s", "warmup_s", "corpus_warmup_s",
                      "process_wall_s")}
                      for r in out["all_results"]],
                  attempted=attempted, failed=failed,
                  checks=checks.results,
                  failed_ops=[op for op in ops if not op["ok"]])

    rate_key = ("corpus_docs_per_s" if args.workload == "corpus_dedup"
                else "build_pages_per_s")
    if args.trace:
        metrics = trace_metrics(args, record, prep, out, layers, calib)
    else:
        if rate_key not in named or "setup_s" not in named:
            print("perfbench: no timing survived; no result", file=sys.stderr)
            write_record(record, [])
            return None
        # peak_rss_mb is printed and recorded but not a result metric: the
        # JVM's heap growth makes it swing 20-70% between identical runs
        metrics = {
            "setup_s": {"value": named["setup_s"][0], "unit": "s"},
            "pages_per_s": {"value": named[rate_key][0], "unit": "pages/s"},
        }
        if "build_scaling_eff" in named:
            metrics["build_scaling_eff"] = {
                "value": named["build_scaling_eff"][0], "unit": "ratio"}
    record["metrics"] = metrics
    write_record(record, [s for r in out["all_results"] for s in r["spans"]])
    return {"correct": checks.all_ok and failed == 0 and bool(checks.results),
            "attempted": max(1, attempted), "failed": failed,
            "metrics": metrics}


def trace_metrics(args, record, prep, out, layers, calib) -> dict:
    import pyarrow.parquet as pq

    res = out["results"][0]
    spans = res["spans"]
    if args.workload == "kg_build":
        html = pq.read_table(f"{prep['kg_dir']}/pages.parquet",
                             columns=["html"]).column("html")
        html_bytes = sum(len(x) for x in html.to_pylist())
        detail = kg_layer_detail(res, html_bytes, out["n_items"])
        job = spans_named(spans, "plans.pipeline.run_pipeline")[:1]
    else:
        detail = corpus_layer_detail(res)
        detail.update(checkpoint_layer_detail(res))
        job = [s for s in spans if s["parent_id"] is None
               and s["name"] in JOB["corpus_dedup"][1]]
    traced_wall = sum(op["wall_s"] for op in res["ops"])
    tracer_s = res.get("tracer_self_s", 0.0)
    detail.update(layers)
    detail.update(job_layers(job, spans) if job else {})
    detail["session.get_spark_s"] = res["data"].get("get_spark_s")
    detail["host.calib_ms"] = median(calib)
    detail["host.calib_drift"] = calib[-1] / calib[0] - 1
    detail["trace.overhead_frac"] = tracer_s / max(1e-9, traced_wall)
    for name, value in sorted(detail.items()):
        if value is not None:
            print(f"layer {name} = {value:.6g}", flush=True)
    record["layers"] = detail
    return {name: {"value": float(detail.get(name) or 0.0), "unit": unit}
            for name, unit in PER_LAYER}


PER_LAYER = (
    ("kernel.extract.us_per_page", "us"),
    ("kernel.chunker.us_per_page", "us"),
    ("kernel.nlp.rules_us_per_page", "us"),
    ("kernel.nlp.link_us_per_call", "us"),
    ("kernel.nlp.link_calls_per_page", "count"),
    ("kernel.nlp.detect_mentions_us_per_chunk", "us"),
    ("kernel.embed.us_per_call", "us"),
    ("kernel.embed.calls_per_page", "count"),
    ("session.get_spark_s", "s"),
    ("host.calib_ms", "ms"),
    ("trace.overhead_frac", "ratio"),
    ("job.wall_s", "s"),
    ("job.outside_sql_s", "s"),
    ("job.spark_jobs", "count"),
    ("job.tasks", "count"),
    ("job.sql_executions", "count"),
    ("job.shuffle_bytes", "B"),
    ("job.spill_bytes", "B"),
    ("job.arrow_sent_bytes", "B"),
    ("job.generate_rows", "count"),
    ("job.scan_rows", "count"),
)


def write_record(record: dict, spans: list[dict]) -> None:
    """The run's full record (inputs fingerprint, versions, every metric,
    checks and failed ops) and its spans, kept after the run."""
    base = os.path.join(WORK, "results",
                        f"{record['workload']}-seed{record['seed']}-"
                        f"trace{record['trace']}")
    os.makedirs(os.path.dirname(base), exist_ok=True)
    with open(base + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    if spans:
        with open(base + ".spans.jsonl", "w") as f:
            for s in spans:
                f.write(json.dumps({k: v for k, v in s.items()
                                    if k != "executions"}, default=str)
                        + "\n")
    print(f"record: {base}.json", flush=True)


if __name__ == "__main__":
    sys.exit(main())
