"""Every Python row stage runs through util.arrow_rows, the one place
that owns the Arrow batch boundary (batch loop, worker state, output
columns). A stage that calls mapInPandas or pandas_udf itself, or
builds a pandas frame from a hand-written column list, forks that
boundary, so per-row behaviour added in the helper would miss it.
(applyInPandasWithState in streaming/watch.py is a stateful operator,
not a row stage, and is not matched.)"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HELPER = ROOT / "code_indexer_spark" / "util.py"
ROW_STAGE_APIS = {"mapInPandas", "pandas_udf"}


def _row_stage_uses(path: Path) -> list[str]:
    where = f"{path.parent.name}/{path.name}"
    found = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        name = (node.attr if isinstance(node, ast.Attribute)
                else node.id if isinstance(node, ast.Name) else None)
        if name in ROW_STAGE_APIS:
            found.append(f"{where}:{node.lineno} {name}")
        elif (isinstance(node, ast.Call)
              and isinstance(node.func, ast.Attribute)
              and node.func.attr == "DataFrame"
              and any(k.arg == "columns" for k in node.keywords)):
            found.append(f"{where}:{node.lineno} DataFrame(columns=)")
        elif isinstance(node, ast.ImportFrom):
            found += [f"{where}:{node.lineno} import {a.name}"
                      for a in node.names if a.name in ROW_STAGE_APIS]
    return found


def test_only_the_helper_opens_an_arrow_row_stage():
    files = sorted((ROOT / "code_indexer_spark").rglob("*.py")) + [
        ROOT / "__spark_entry__.py"]
    found = [u for p in files if p != HELPER for u in _row_stage_uses(p)]
    assert not found, f"row stage outside util.arrow_rows: {found}"
    assert len(_row_stage_uses(HELPER)) == 2, "the helper lost its boundary"


def test_row_stage_guard_detects_each_form(tmp_path):
    src = tmp_path / "probe.py"
    src.write_text(
        "import pyspark.sql.functions as F\n"
        "from pyspark.sql.functions import pandas_udf\n"
        "@F.pandas_udf('long')\ndef f(s):\n    return s\n"
        "def g(df, run):\n"
        "    df.groupBy('k').applyInPandasWithState(run)\n"
        "    pd.DataFrame({'a': [1]})\n"
        "    pd.DataFrame([(1,)], columns=['a'])\n"
        "    return df.mapInPandas(run, schema='a long')\n")
    got = sorted(u.split(" ", 1)[1] for u in _row_stage_uses(src))
    assert got == ["DataFrame(columns=)", "import pandas_udf", "mapInPandas",
                   "pandas_udf"]
