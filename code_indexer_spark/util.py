"""Small shared runtime helpers."""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def free_local_checkpoint(df: DataFrame) -> None:
    """Explicitly release the cached blocks behind a
    ``localCheckpoint(eager=True)`` DataFrame.

    Iterative loops (pagerank until_converged, call_chains,
    canonicalize.large_star_small_star) checkpoint a fresh table every
    round; the superseded round's blocks are otherwise reclaimed only
    when Python GC → py4j detach → ContextCleaner all happen to run,
    so a slowly-converging run can pin many round tables in storage
    memory. This frees them deterministically: the checkpointed
    Dataset's analyzed plan is a LogicalRDD wrapping the cached RDD —
    unpersist it (non-blocking).

    Best-effort: if the plan is not a LogicalRDD (df was never
    checkpointed) this is a no-op.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        plan.rdd().unpersist(False)
    except Exception:
        pass


def arrow_rows(df: DataFrame, in_cols: list[str], schema: StructType,
               make_row_fn: Callable[[], Callable[..., Iterable[tuple]]],
               ) -> DataFrame:
    """The one Arrow batch boundary of every Python row stage.

    Selects ``in_cols`` and runs a single ``mapInPandas``. On a
    partition's first batch the worker calls ``make_row_fn()`` (kernel
    imports, broadcast lookups), so an empty partition builds no worker
    state; the returned function takes one input row's ``in_cols``
    values positionally and returns zero or more output tuples in
    ``schema`` field order. Each output batch is built from
    ``schema.fieldNames()``, so no stage keeps a column list by hand.
    """
    names = schema.fieldNames()

    def run(batches):
        import pandas as pd

        row_fn = None
        for pdf in batches:
            row_fn = row_fn or make_row_fn()
            yield pd.DataFrame(
                [out for vals in zip(*(pdf[c] for c in in_cols))
                 for out in row_fn(*vals)],
                columns=names)

    return df.select(*in_cols).mapInPandas(run, schema=schema)
