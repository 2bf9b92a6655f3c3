from __future__ import annotations

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark_etl_project_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=4)
    yield s


# Shared plan-inspection primitives (r15 ADVICE: these were triplicated
# across test_scale.py / test_plan_invariants.py / test_cohort_pins.py,
# and the _nodes regex is exactly the safe-vs-unsafe boundary SKILL.md
# flags — one copy, imported everywhere, so it cannot drift).

def formatted_plan(df) -> str:
    """Formatted explain string (the '(N) NodeName' detail format)."""
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def plan_nodes(plan: str) -> list[str]:
    """Physical node names from a formatted explain, exactly once per
    node (the '(N) NodeName' detail lines — the tree rendering would
    double-count, and a naive '(N) Window' prefix match would confuse
    WindowGroupLimit with Window).

    Note on `count("Exchange")` pins built on this: ReusedExchange is
    captured as its own name and therefore deliberately EXCLUDED from
    exact Exchange counts — a ReusedExchange reads an already-
    materialized shuffle's files, it does not perform a second shuffle,
    so "exactly one Exchange" means "exactly one shuffle materialized",
    which is the 100 TB-relevant invariant (r14 ADVICE)."""
    return re.findall(r"\(\d+\) ([A-Za-z]+)", plan)


def read_schema_columns(plan: str) -> list[frozenset[str]]:
    """Top-level column-name set of every parquet ReadSchema in a
    formatted plan, one frozenset per scan. Depth-aware: commas and
    colons inside nested complex types (struct<a:struct<b:int,c:int>>,
    array<struct<...>>, map<...>) are NOT split points, so inner field
    names never leak into the pinned column set (r15 ADVICE)."""
    out = []
    for body in re.findall(r"ReadSchema: struct<(.*)>", plan):
        cols, depth, start = [], 0, 0
        for i, ch in enumerate(body):
            if ch == "<":
                depth += 1
            elif ch == ">":
                depth -= 1
            elif ch == "," and depth == 0:
                cols.append(body[start:i])
                start = i + 1
        if body[start:].strip():
            cols.append(body[start:])
        out.append(frozenset(c.split(":", 1)[0].strip() for c in cols))
    return out
