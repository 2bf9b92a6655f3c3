"""The output checks pass on correct output and fail on corrupted output:
a mart with a broken SCD2 history, an audit that disagrees with the
ledger, and a query result that differs from its DuckDB twin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import checks
import gen
from collectors import Spans
from workloads import MART_LAYOUT, EtlBatchLoads


@pytest.fixture(scope="module")
def loaded(spark, tmp_path_factory):
    """A mart after the seed loads and one timed round of small loads."""
    work = str(tmp_path_factory.mktemp("etl"))
    manifest = gen.etl_inputs(11, f"{work}/inputs", 300, 400, 1)
    wl = EtlBatchLoads(spark, Spans(spark), work, 11)
    wl.setup(manifest)
    ops = wl.run_round(0)
    return wl, manifest, ops


def test_correct_mart_and_audits_pass(loaded):
    wl, _, ops = loaded
    assert all(op.ok for op in ops)
    assert wl.check_round(0)


def _corrupt(spark, wl, tmp_path, fn):
    from pyspark_etl_project_spark.operators.scd2 import read_mart, write_mart
    bad = fn(read_mart(spark, wl.mart)).localCheckpoint()
    path = str(tmp_path / "bad_mart")
    write_mart(bad, path, **MART_LAYOUT)
    return path


def _one_expired(df):
    return (F.col("CSD_ID") == df.filter(F.col("ACTIVE_FLAG") == 0)
            .agg(F.min("CSD_ID")).first()[0])


@pytest.mark.parametrize("corruption", [
    "second_active_row", "broken_end_date", "lost_row"])
def test_corrupted_mart_fails(spark, loaded, tmp_path, corruption):
    wl, manifest, _ = loaded
    want = manifest["finals_by_round"][0]

    def corrupt(df):
        hit = _one_expired(df)
        if corruption == "second_active_row":
            return df.withColumn("ACTIVE_FLAG",
                                 F.when(hit, 1).otherwise(F.col("ACTIVE_FLAG")))
        if corruption == "broken_end_date":
            return df.withColumn(
                "END_DATE", F.when(hit, F.col("END_DATE") + F.expr("INTERVAL 1 SECOND"))
                              .otherwise(F.col("END_DATE")))
        return df.filter(~hit)

    path = _corrupt(spark, wl, tmp_path, corrupt)
    assert not checks.mart_matches(spark, path, want)


def test_audit_that_disagrees_with_the_ledger_fails():
    want = {"path": "x", "load_id": 5, "fresh": 10, "invalid": 1,
            "valid_pct": 90.0}
    good = {"DATA_LOAD_ID": 5, "TOTAL_UPSERT_COUNT": 10, "VALID_COUNT": 9,
            "INVALID_COUNT": 1, "DATA_VALID_PERCENTAGE": 90.0}
    assert checks.audit_matches([good], want)
    assert not checks.audit_matches([{**good, "INVALID_COUNT": 2}], want)
    assert not checks.audit_matches([{**good, "DATA_VALID_PERCENTAGE": 90.01}], want)
    assert not checks.audit_matches([], want)
    # A tie rounds either way in binary floating point; both are correct.
    tie = {**want, "fresh": 4000, "invalid": 103, "valid_pct": 97.425}
    row = {**good, "TOTAL_UPSERT_COUNT": 4000, "VALID_COUNT": 3897,
           "INVALID_COUNT": 103}
    for pct in (97.42, 97.43):
        assert checks.audit_matches([{**row, "DATA_VALID_PERCENTAGE": pct}], tie)


def test_corrupted_query_result_fails(spark, tmp_path):
    from pyspark_etl_project_spark.plans import all_oracle_sql, all_queries

    tables = str(tmp_path / "tables")
    gen.query_tables(3, tables, 0.001)
    name = "cdc_router"
    pdf = all_queries()[name](spark, tables).toPandas()
    sql = all_oracle_sql()[name]
    assert checks.result_matches(pdf, sql, tables)
    assert not checks.result_matches(pdf.iloc[:-1], sql, tables)
    changed = pdf.copy()
    col = changed.columns[-1]
    changed.loc[changed.index[0], col] = None
    assert not checks.result_matches(changed, sql, tables)
