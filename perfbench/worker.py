"""One fresh Spark process of a benchmark run.

``python3 perfbench/worker.py <spec.json> <result.json>`` starts a
session with the program's ``session.get_spark`` at the spec's
``local[N]``, warms the Python workers, runs the spec's tasks and
writes what it measured to the result file. Every timed call is
recorded as an op; a call that raises is recorded with its error class
and the process goes on with the next task.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
import uuid

from spans import NULL_TRACER, Tracer

PYTHON_TASKS = {"build", "kg_layers", "checkpoint"}


class Run:
    def __init__(self, spec: dict):
        self.spec = spec
        self.kg_dir = spec["kg_dir"]
        self.out_dir = spec["out_dir"]
        self.ops: list[dict] = []
        self.data: dict = {}
        self.tracer = NULL_TRACER
        self.spark = None

    def timed(self, name: str, fn, expect: type | None = None):
        """Run ``fn`` as one timed op; return its value (None if it
        raised). ``expect`` names an exception class that is the op's
        intended outcome, not a failure."""
        op = {"name": name, "ok": True, "error": None}
        with self.tracer.span(name) as span:
            t = time.perf_counter()
            try:
                value = fn()
            except Exception as e:  # a failed op is counted, not fatal
                value = None
                if expect is None or not isinstance(e, expect):
                    op.update(ok=False, error=type(e).__name__,
                              message=str(e)[:300])
                    traceback.print_exc()
            op["wall_s"] = time.perf_counter() - t
            op["span_id"] = span.get("span_id")
        self.ops.append(op)
        return value

    # ------------------------------------------------------------ setup

    def setup(self) -> None:
        from code_indexer_spark.session import get_spark

        cores = self.spec["cores"]
        t = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{cores}]")
        self.data["get_spark_s"] = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.spec["trace"]:
            from sparkmetrics import SparkMetricsReader

            self.tracer = Tracer(self.spec["run_id"],
                                 SparkMetricsReader(self.spark))
        # warm one Python worker per core, for the tasks that run Arrow
        # UDFs; the corpus operators are JVM-only and start none
        t = time.perf_counter()
        if PYTHON_TASKS & set(self.spec["tasks"]):
            self.spark.range(0, cores, 1, cores).mapInPandas(
                _warm_worker, "id long").collect()
        self.data["warmup_s"] = time.perf_counter() - t

    # ------------------------------------------------------------ tasks

    def task_build(self) -> None:
        from code_indexer_spark.plans import pipeline as P

        out = os.path.join(self.out_dir, "kg")
        counts = self.timed("plans.pipeline.run_pipeline",
                            lambda: P.run_pipeline(self.spark, self.kg_dir,
                                                   out))
        self.data["build_counts"] = counts
        self.data["build_out"] = out

    def task_corpus(self) -> None:
        """The four corpus operators, once over a 100-document slice to
        warm the JVM (set-up), then once, timed, over all documents. The
        slice is a different plan, so the operators' session-scoped
        persisted-plan caches miss on the timed call, as in a one-shot
        corpus job."""
        import pyspark.sql.functions as F

        docs = self.spark.read.parquet(f"{self.kg_dir}/docs.parquet")
        t = time.perf_counter()
        self._corpus_round(docs.filter(F.col("doc_id") < 100), "warmup.")
        self.data["corpus_warmup_s"] = time.perf_counter() - t
        self.data["corpus_outputs"] = self._corpus_round(docs, "")

    def _corpus_round(self, d, prefix: str) -> dict:
        import pyspark.sql.functions as F
        from code_indexer_spark.operators import dedup, textstats

        calls = [
            ("operators.dedup.simhash_pairs",
             lambda: dedup.simhash_pairs(d)),
            ("operators.dedup.lsh_candidate_pairs",
             lambda: dedup.lsh_candidate_pairs(d)),
            ("operators.textstats.cooccur_pmi",
             lambda: textstats.cooccur_pmi(d, window=3, min_count=5, k=50)),
            ("operators.textstats.dsir_logweights",
             lambda: textstats.dsir_logweights(
                 d.filter(F.col("doc_id") % 10 != 0),
                 d.filter(F.col("doc_id") % 10 == 0))),
        ]
        return {name: self.timed(prefix + name, lambda: [
            tuple(x) for x in build().collect()]) for name, build in calls}

    def task_kg_layers(self) -> None:
        """Traced only: the layers inside the build, then the read side
        (queries against the chunks table at rest) and the incremental
        refresh, on the session and output of task_build."""
        import pyspark.sql.functions as F
        from code_indexer_spark.operators.canonicalize import apply_canonical
        from code_indexer_spark.plans import pipeline as P

        spark, kg = self.spark, self.kg_dir

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        self.timed("operators.triples.extract_triples_fused",
                   lambda: noop(P.build_raw_triples(spark, kg)))
        self.timed("operators.extract.build_chunks_fused",
                   lambda: noop(P.build_chunks(spark, kg)))
        raw = P.build_raw_triples(spark, kg).persist()
        raw.count()
        mapping = P.cached_canonical_mapping(spark, kg)
        self.timed("operators.canonicalize.apply_canonical",
                   lambda: noop(apply_canonical(raw, mapping)))
        raw.unpersist()

        chunks = spark.read.parquet(f"{self.data['build_out']}"
                                    "/chunks.parquet")
        self.data["queries"] = [self._query(chunks, q)
                                for q in self.spec["queries"]]

        from code_indexer_spark.sources.tables import reconcile_status

        delta = self.spec["delta"]
        pages = P.read_pages(spark, kg)
        current = pages.select("url", F.md5(F.col("html")).alias("h"))
        ghosts = spark.createDataFrame([(u, "gone") for u in delta["deleted"]],
                                       "url string, h string")
        indexed = (
            current.filter(~F.col("url").isin(delta["added"]))
            .select("url", F.when(F.col("url").isin(delta["changed"]),
                                  F.lit("stale")).otherwise(F.col("h"))
                    .alias("h"))
            .unionByName(ghosts))
        status = self.timed(
            "sources.tables.reconcile_status",
            lambda: {r["status"]: r["n"] for r in reconcile_status(
                indexed, current, ["url"]).groupBy("status").agg(
                    F.count(F.lit(1)).alias("n")).collect()})
        self.data["reconcile_status"] = status
        built = spark.read.parquet(f"{self.data['build_out']}"
                                   "/triples.parquet")
        stale = spark.createDataFrame(
            [("stale", "stale_pred", "stale", u, "R999", 0.0, f"stale-{u}")
             for u in delta["changed"] + delta["deleted"]], built.schema)
        prior = built.filter(~F.col("src_url").isin(delta["added"])) \
            .unionByName(stale)
        out = os.path.join(self.out_dir, "incremental.parquet")
        self.timed("plans.pipeline.run_incremental",
                   lambda: P.run_incremental(spark, kg, prior, indexed)
                   .write.mode("overwrite").parquet(out))
        self.data["incremental_out"] = out

    def _query(self, chunks, q: dict) -> dict:
        from code_indexer_spark.plans import search

        kind, text, k = q["kind"], q["text"], q["k"]
        lang = {"must": [{"key": "lang", "match": {"value": "en"}}]}
        if kind.startswith("semantic"):
            def run():
                return search.semantic_search(
                    chunks, text, k=k,
                    accuracy="fast" if "fast" in kind else "high",
                    filter_spec=lang if kind.endswith("_lang") else None)
        elif kind.startswith("keyword"):
            def run():
                return search.keyword_search(chunks, text, k=k)
        else:
            def run():
                return search.hybrid_search(chunks, text, k=k)
        rows = self.timed(f"plans.search.{kind}",
                          lambda: [tuple(r)[:3] for r in run().collect()])
        return {**q, "rows": rows, "op": len(self.ops) - 1}

    def task_checkpoint(self) -> None:
        """Traced only: a checkpointed triples build that crashes after
        half its slices, then the call that resumes it."""
        from code_indexer_spark.plans import checkpoint as C

        ck = os.path.join(self.out_dir, "checkpointed")
        half = C.WORK_PARTITIONS // 2
        self.timed("plans.checkpoint.crash",
                   lambda: C.run_triples_checkpointed(
                       self.spark, self.kg_dir, ck, fail_after=half),
                   expect=RuntimeError)
        self.timed("plans.checkpoint.resume",
                   lambda: C.run_triples_checkpointed(
                       self.spark, self.kg_dir, ck))
        self.data["checkpoint_dir"] = ck
        self.data["checkpoint_slices"] = C.WORK_PARTITIONS
        self.data["checkpoint_crash_after"] = half

    def trace_public_calls(self) -> None:
        """Traced only: wrap the public calls run_pipeline and
        run_triples_checkpointed make, so each gets a span. Only this
        worker process sees the rebinding; the program is not edited."""
        from code_indexer_spark.plans import checkpoint, pipeline

        for module, name, span in (
            (pipeline, "cached_canonical_mapping",
             "operators.canonicalize.canonical_mapping"),
            (checkpoint, "canonical_mapping",
             "operators.canonicalize.canonical_mapping"),
            (pipeline, "build_raw_triples", "plans.pipeline.build_raw_triples"),
            (pipeline, "apply_canonical",
             "operators.canonicalize.apply_canonical"),
            (pipeline, "build_nodes", "plans.pipeline.build_nodes"),
            (pipeline, "build_edges", "plans.pipeline.build_edges"),
            (pipeline, "build_chunks", "plans.pipeline.build_chunks"),
        ):
            setattr(module, name, self._spanned(span, getattr(module, name)))

    def _spanned(self, span_name: str, fn):
        tracer = self.tracer

        def wrapper(*args, **kwargs):
            with tracer.span(span_name):
                return fn(*args, **kwargs)
        return wrapper


def _warm_worker(batches):
    """Start a Python worker per core and import the kernels there."""
    from code_indexer_spark.kernel.embed import embed_text

    embed_text("warm up")
    yield from batches


def main() -> int:
    spec_path, result_path = sys.argv[1], sys.argv[2]
    with open(spec_path) as f:
        spec = json.load(f)
    spec.setdefault("run_id", uuid.uuid4().hex)
    run = Run(spec)
    status = 0
    try:
        run.setup()
        if spec["trace"]:
            run.trace_public_calls()
        for task in spec["tasks"]:
            getattr(run, f"task_{task}")()
    except Exception as e:  # recorded; the parent counts the lost ops
        traceback.print_exc()
        run.data["fatal"] = f"{type(e).__name__}: {str(e)[:300]}"
        status = 1
    finally:
        result = {"ops": run.ops, "data": run.data,
                  "spans": run.tracer.dump(),
                  "tracer_self_s": run.tracer.self_s}
        with open(result_path, "w") as f:
            json.dump(result, f, default=str)
        if run.spark is not None:
            run.spark.stop()
    return status


if __name__ == "__main__":
    sys.exit(main())
