"""Output checks. A failed check counts the op (or the round's ops)
as failed.

- ``audit_matches``: a load's materialised audit row equals the
  ledger's fresh and invalid counts and valid percentage.
- ``mart_facts`` / ``mart_matches``: exactly one active row per
  (SOURCE_ID, SOURCE_SYSTEM_IDENTIFIER); every expired version's
  END_DATE equals its successor's START_DATE, the latest version is
  active and open-ended; surrogate ids are unique; active and total rows
  per source equal the ledger.
- ``result_matches``: a query result's fingerprint equals its DuckDB
  twin's, with the canonicalisation of tools/check_oracle.py.
"""

from __future__ import annotations

import functools
import importlib.util
import os
import sys

from pyspark.sql import Window
from pyspark.sql import functions as F

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OPEN_END = "2099-12-31 00:00:00"


def audit_matches(rows: list[dict], want: dict) -> bool:
    """The audit reports the percentage rounded to 2 places; the ledger
    keeps it exact, so it must lie within half a unit of the last place."""
    if want["fresh"] == 0:
        ok = not rows
    else:
        ok = (len(rows) == 1
              and rows[0]["DATA_LOAD_ID"] == want["load_id"]
              and rows[0]["TOTAL_UPSERT_COUNT"] == want["fresh"]
              and rows[0]["VALID_COUNT"] == want["fresh"] - want["invalid"]
              and rows[0]["INVALID_COUNT"] == want["invalid"]
              and abs(rows[0]["DATA_VALID_PERCENTAGE"] - want["valid_pct"])
              <= 0.005 + 1e-9)
    if not ok:
        print(f"perfbench: audit of {want['path']} is {rows}, ledger says "
              f"fresh={want['fresh']} invalid={want['invalid']} "
              f"valid_pct={want['valid_pct']}", file=sys.stderr)
    return ok


def mart_facts(mart) -> dict[str, dict]:
    """Per source: total and active rows, and counts of invariant
    violations (0 when the mart is a correct SCD2 history)."""
    key = ["SOURCE_ID", "SOURCE_SYSTEM_IDENTIFIER"]
    by_id = Window.partitionBy(*key).orderBy("CSD_ID")
    nxt = F.lead("START_DATE").over(by_id)
    n_active = F.sum("ACTIVE_FLAG").over(Window.partitionBy(*key))
    open_end = F.lit(OPEN_END).cast("timestamp")
    chained = F.when(nxt.isNull(),
                     (F.col("ACTIVE_FLAG") == 1) & (F.col("END_DATE") == open_end)
                     ).otherwise((F.col("ACTIVE_FLAG") == 0)
                                 & (F.col("END_DATE") == nxt))
    rows = (mart.select(*key, "CSD_ID", "ACTIVE_FLAG",
                        chained.alias("chained"), n_active.alias("n_active"))
                .groupBy("SOURCE_ID")
                .agg(F.count(F.lit(1)).alias("total"),
                     F.sum("ACTIVE_FLAG").alias("active"),
                     F.countDistinct("CSD_ID").alias("ids"),
                     F.sum(F.when(F.col("n_active") != 1, 1).otherwise(0))
                      .alias("bad_active"),
                     F.sum(F.when(F.col("chained"), 0).otherwise(1))
                      .alias("bad_chain"))
                .collect())
    return {str(r["SOURCE_ID"]): r.asDict() for r in rows}


def mart_matches(spark, path: str, want: dict[str, dict]) -> bool:
    from pyspark_etl_project_spark.operators.scd2 import read_mart

    facts = mart_facts(read_mart(spark, path))
    ok = set(facts) == set(want)
    for s, f in facts.items():
        w = want.get(s, {})
        ok &= (f["total"] == w.get("total") and f["active"] == w.get("active")
               and f["ids"] == f["total"] and f["bad_active"] == 0
               and f["bad_chain"] == 0)
    if not ok:
        print(f"perfbench: mart facts {facts} do not match ledger {want}",
              file=sys.stderr)
    return ok


@functools.cache
def _oracle_module():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(_ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def fingerprint(pdf) -> tuple:
    """(row count, sorted lower-case columns, value digest) of a pandas
    frame, canonicalised like the repo's oracle gate."""
    cols = list(pdf.columns)
    rows = [tuple(r) for r in pdf.itertuples(index=False, name=None)]
    digest = _oracle_module().frame_digest(cols, rows)
    return len(rows), sorted(c.lower() for c in cols), digest


def duckdb_result(sql: str, tables_dir: str):
    import duckdb

    from pyspark_etl_project_spark.plans.tables import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(tables_dir, t + '.parquet')}'")
        return con.execute(sql).df()
    finally:
        con.close()


def result_matches(pdf, sql: str, tables_dir: str) -> bool:
    return fingerprint(pdf) == fingerprint(duckdb_result(sql, tables_dir))
