"""Small shared runtime helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame


def free_local_checkpoint(df: DataFrame) -> None:
    """Explicitly release the cached blocks behind a
    ``localCheckpoint(eager=True)`` DataFrame.

    Iterative loops (pagerank until_converged, call_chains) checkpoint
    a fresh table every round; the superseded round's blocks are
    otherwise reclaimed only when Python GC → py4j detach →
    ContextCleaner all happen to run, so a slowly-converging
    run can pin many round tables in storage memory. This frees
    them deterministically: the checkpointed Dataset's analyzed plan is
    a LogicalRDD wrapping the cached RDD — unpersist it (non-blocking).

    Best-effort: if the plan is not a LogicalRDD (df was never
    checkpointed) this is a no-op.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        plan.rdd().unpersist(False)
    except Exception:
        pass

