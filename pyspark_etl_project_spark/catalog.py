"""Metadata catalog: table registry, column registry, data dictionary —
the reference's CSD_TABLE_NAMES / CSD_TABLE_COLUMNS /
CSD_DATA_DICTIONARY surface (/root/reference/Setup/SQL_DDL_Script.sql:
77-133, seeds SQL_DML_Script.sql:535-746) re-expressed as plain
DataFrames the engine is *self-described* by.

The dictionary also encodes expected value domains (the reference used
these as its informal correctness contract — SURVEY.md §5), which
``domain_audit`` turns into an executable check: per-rule violation
counts over any table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_etl_project_spark.functions.seedframe import seed_df

from pyspark_etl_project_spark.schemas import MART_COLUMNS

EVENT_TYPES_EXPECTED = ["click", "view", "purchase", "signup"]

# (table, column, description, allowed_values or None). Kept as plain
# Python so query AND oracle derive from the same constants.
DATA_DICTIONARY: list[tuple[str, str, str, list[str] | None]] = [
    ("events", "event_type", "interaction kind emitted by the client",
     EVENT_TYPES_EXPECTED),
    ("events", "user_id", "acting user's surrogate id", None),
    ("events", "value", "non-negative monetary-ish measure", None),
    ("csd_data_mart", "ACTIVE_FLAG", "SCD2 current-row marker", ["0", "1"]),
    ("csd_data_mart", "IS_VALID_DATA", "row quality flag", ["0", "1"]),
    ("csd_data_mart", "SOURCE_ID", "feed the row arrived from",
     ["1", "2", "3"]),
]

TABLE_COLUMNS: dict[str, list[str]] = {
    "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
    "csd_data_mart": list(MART_COLUMNS),
    "documents": ["doc_id", "url", "lang", "text"],
}


def seed_table_columns(spark: SparkSession) -> DataFrame:
    rows = []
    for t in sorted(TABLE_COLUMNS):
        for pos, c in enumerate(TABLE_COLUMNS[t], start=1):
            rows.append((t, c, pos))
    return seed_df(
        spark, rows, "table_name string, column_name string, ordinal int")


def seed_data_dictionary(spark: SparkSession) -> DataFrame:
    rows = [(t, c, d, ",".join(av) if av else None)
            for t, c, d, av in DATA_DICTIONARY]
    return seed_df(
        spark, rows,
        "table_name string, column_name string, description string, "
        "allowed_values string")


def documentation_coverage(spark: SparkSession) -> DataFrame:
    """Governance query: per table, registered column count vs columns
    holding a dictionary entry — broadcast join, no fact data touched."""
    cols = seed_table_columns(spark)
    dic = seed_data_dictionary(spark).select("table_name", "column_name") \
                                     .withColumn("_doc", F.lit(1))
    joined = cols.join(F.broadcast(dic), ["table_name", "column_name"], "left")
    return (joined.groupBy("table_name")
            .agg(F.count(F.lit(1)).alias("n_cols"),
                 F.sum(F.coalesce(F.col("_doc"), F.lit(0))).alias("n_documented")))


def domain_audit(df: DataFrame, rules: list[tuple[str, F.Column]]) -> DataFrame:
    """Violation counts for (rule_name, predicate-that-must-hold) pairs —
    one conditional-aggregation pass, no per-rule rescans.

    A row violates unless the predicate is TRUE: with `when(~pred, 1)`
    a NULL in the checked column made the predicate NULL and the row
    silently counted as COMPLIANT (NULL is outside every declared
    domain; a rule that accepts NULL must say `isNull() | pred`)."""
    aggs = [F.sum(F.when(pred, 0).otherwise(1)).cast("long").alias(name)
            for name, pred in rules]
    wide = df.agg(*aggs)
    first = wide.select(
        F.explode(F.array(*[
            F.struct(F.lit(name).alias("rule"),
                     F.col(name).alias("n_violations"))
            for name, _ in rules])).alias("r"))
    return first.select("r.rule", "r.n_violations")
