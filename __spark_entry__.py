"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  -> flagship query on /root/testdata/sf0.001 (smoke, rows>0)
queries()     -> {name: fn(spark, sf_dir) -> DataFrame} per SURVEY.md §2 op
oracle_sql()  -> {name: DuckDB SQL twin} for the correctness gate
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_ROOT = os.path.dirname(os.path.abspath(__file__))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)

from pyspark_etl_project_spark.plans import all_oracle_sql, all_queries  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: SCD2 merge of an update batch into a customer-shaped mart,
    then per-flag audit metrics — exercises scan, hash-CDC semantics, the
    custom SCD2 operator, and conditional aggregation in one plan."""
    from pyspark.sql import functions as F

    from pyspark_etl_project_spark.plans.parity import scd2_merge_q

    merged = scd2_merge_q(spark, SMOKE_SF_DIR)
    return (merged.groupBy("active_flag")
                  .agg(F.count(F.lit(1)).alias("n_rows"),
                       F.min("start_date").alias("earliest_start"),
                       F.max("end_date").alias("latest_end")))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return all_queries()


def oracle_sql() -> dict[str, str]:
    return all_oracle_sql()
