"""Shared fixtures for the benchmark's own tests.

Run with ``python3 -m pytest perfbench/tests -q`` from the repo root.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]


@pytest.fixture(scope="session")
def spark():
    import run

    os.environ.update(run.SPARK_ENV)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    from pyspark_etl_project_spark.session import get_spark
    return get_spark("perfbench-tests")
