"""Kernel outputs must not depend on the executor's CPU.

BLAS routines (np.dot, np.inner, np.vdot, np.matmul, ``@``) choose
their kernel, and with it their float summation order, per CPU. A
float32 dot product through BLAS therefore differs in the last bit
between hosts, and after the 6-dp rounding some link scores and
triple confidences change. The kernels use numpy's fixed-order
``add.reduce`` instead; these tests keep it that way."""

from __future__ import annotations

import ast
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
KERNEL_DIR = ROOT / "code_indexer_spark" / "kernel"
BLAS_NAMES = {"dot", "inner", "vdot", "matmul"}


def _blas_uses(path: Path) -> list[str]:
    found = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, (ast.BinOp, ast.AugAssign)) and isinstance(
                node.op, ast.MatMult):
            found.append(f"{path.name}:{node.lineno} @")
        elif isinstance(node, ast.Attribute) and node.attr in BLAS_NAMES:
            found.append(f"{path.name}:{node.lineno} .{node.attr}")
        elif isinstance(node, ast.ImportFrom) and node.module == "numpy":
            found += [f"{path.name}:{node.lineno} import {a.name}"
                      for a in node.names if a.name in BLAS_NAMES]
    return found


def test_no_blas_in_kernels():
    found = [u for p in sorted(KERNEL_DIR.glob("*.py"))
             for u in _blas_uses(p)]
    assert not found, f"BLAS call in a kernel (CPU-dependent): {found}"


def test_blas_guard_detects_each_form(tmp_path):
    src = tmp_path / "probe.py"
    src.write_text(
        "import numpy as np\nfrom numpy import vdot\n"
        "@staticmethod\ndef f(a, b):\n"
        "    a @= b\n    return np.dot(a, b) + a.inner(b) + (a @ b)\n")
    got = sorted(u.split(" ", 1)[1] for u in _blas_uses(src))
    assert got == [".dot", ".inner", "@", "@", "import vdot"]


# Hashes every triple (confidence included) and every mention link
# score the kernels produce over the fixture pages, with no Spark.
_HASH_SCRIPT = """
import hashlib, sys
import pyarrow.parquet as pq
sys.path.insert(0, sys.argv[2])
from code_indexer_spark.kernel.chunker import chunk_text
from code_indexer_spark.kernel.embed import embed_text
from code_indexer_spark.kernel.extract import extract_text
from code_indexer_spark.kernel.nlp import AliasIndex, extract_triples_from_text

kg = sys.argv[1]
aliases = pq.read_table(f"{kg}/alias_dict.parquet").to_pylist()
idx = AliasIndex([(a["alias"], a["entity_id"], a["entity_type"],
                   float(a["prior"]), a["canonical_name"]) for a in aliases])
h, n = hashlib.sha256(), 0
for page in pq.read_table(f"{kg}/pages.parquet",
                          columns=["url", "html"]).to_pylist():
    text = extract_text(page["html"])
    for t in extract_triples_from_text(text, idx):
        h.update(repr((page["url"], t)).encode())
        n += 1
    for c in chunk_text(text, 1000):
        ctx = embed_text(c["text"])
        for pos, norm, _ in idx.detect_mentions(c["text"]):
            h.update(repr((page["url"], pos, idx.link(norm, None, ctx))
                          ).encode())
            n += 1
print(n, h.hexdigest())
"""


def _cpu_flags() -> set[str]:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("flags"):
                    return set(line.split(":", 1)[1].split())
    except OSError:
        pass
    return set()


def test_kg_kernel_hash_independent_of_blas_coretype(kg_small):
    """The same kernel output under OpenBLAS's oldest x86-64 kernel
    (Nehalem), the host's own choice, and the AVX-512 kernel
    (SkylakeX, only where the CPU has it)."""
    coretypes = ["Nehalem", None]
    if "avx512f" in _cpu_flags():
        coretypes.append("SkylakeX")
    hashes = {}
    for core in coretypes:
        env = {k: v for k, v in os.environ.items()
               if k != "OPENBLAS_CORETYPE"}
        if core is not None:
            env["OPENBLAS_CORETYPE"] = core
        out = subprocess.run(
            [sys.executable, "-c", _HASH_SCRIPT, kg_small, str(ROOT)],
            env=env, capture_output=True, text=True, timeout=600,
            check=True)
        hashes[core or "native"] = out.stdout.split()
    assert int(hashes["Nehalem"][0]) > 1000
    assert len({tuple(v) for v in hashes.values()}) == 1, hashes
