"""Shared fixtures: a session-scoped local SparkSession and the
seed-fixed KG fixture directories (generated on demand)."""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

KG_SMALL = os.path.join(ROOT, "data", "kg", "sf_small")


@pytest.fixture(scope="session")
def kg_small() -> str:
    if not os.path.isdir(KG_SMALL):
        from code_indexer_spark.fixtures.gen import generate_atomic

        generate_atomic(KG_SMALL, 1000)
    return KG_SMALL


@pytest.fixture(scope="session")
def spark():
    from code_indexer_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions="8")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
