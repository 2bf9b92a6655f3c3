"""Incremental high-watermark helpers.

Reference D2/A7/D3 (SURVEY.md §2): MAX(ARCHIVE_ID) resume point
(/root/reference/ETL/XML_Streaming.py:78-81) and "latest archived version
per record" via correlated MAX subquery
(/root/reference/ETL/XML_Batch_Processing.py:394-397) — decorrelated here
as a window, which Catalyst executes as one hash shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def max_watermark(df: DataFrame, col: str) -> int | None:
    """MAX(col) as a scalar; None on empty input."""
    row = df.agg(F.max(col).alias("m")).first()
    return row["m"] if row else None


def latest_version_per_key(df: DataFrame,
                           key: str,
                           version_col: str,
                           watermark: int | None = None,
                           watermark_col: str | None = None) -> DataFrame:
    """Rows newer than the watermark, keeping only the max-version row per
    key (re-delivered records collapse to the latest archived copy)."""
    from pyspark_etl_project_spark.functions.reserved import (
        require_free_columns)

    require_free_columns(df, ["_rn"], "latest_version_per_key")
    out = df
    if watermark is not None:
        out = out.filter(F.col(watermark_col or key) > F.lit(watermark))
    w = Window.partitionBy(key).orderBy(F.col(version_col).desc())
    return (out.withColumn("_rn", F.row_number().over(w))
               .filter(F.col("_rn") == 1)
               .drop("_rn"))


def save_watermark(spark, path: str, source: str, value: int) -> None:
    """Persist a per-source high watermark (the durable form of the
    reference's LAST_LOADED_RECORD_ID column,
    /root/reference/Setup/SQL_DDL_Script.sql:7). The table is parquet
    partitioned by source: an update writes ONLY that source's
    partition (one tiny file), so the cost per advance is O(1) in the
    number of sources rather than a whole-table rewrite — at hundreds
    of thousands of feeds the table updates in constant time, and
    `read_watermark` prunes to one partition at file listing. The value
    is only advanced after the corresponding load commits."""
    from pyspark_etl_project_spark.functions.seedframe import seed_df
    df = seed_df(spark, [(source, value)], "source string, wm long")
    (df.coalesce(1).write.mode("overwrite")
       .option("partitionOverwriteMode", "dynamic")
       .partitionBy("source")
       .parquet(path))


def read_watermarks(spark, path: str) -> DataFrame:
    try:
        # source comes back as a partition column; cast pins it to
        # string even when every value happens to look numeric (the
        # partition type inference would otherwise return ints).
        return (spark.read.parquet(path)
                .select(F.col("source").cast("string").alias("source"),
                        F.col("wm").cast("long").alias("wm")))
    except Exception:
        from pyspark_etl_project_spark.functions.seedframe import seed_df
        return seed_df(spark, [], "source string, wm long")


def read_watermark(spark, path: str, source: str) -> int | None:
    # The equality filter on the partition column prunes at file
    # listing: one source's read touches one partition directory,
    # whatever the total source count.
    rows = read_watermarks(spark, path).filter(F.col("source") == source).collect()
    return rows[0]["wm"] if rows else None


# --- surrogate high-water mark --------------------------------------------
# The SCD2 merge needs MAX(CSD_ID) to continue the id sequence; scanning
# the mart for it is O(mart) per incremental batch. Persist it in this
# same tiny watermark table under a reserved "<source>#surrogate" key,
# advanced after each load commits — the merge then starts from a 1-row
# read, falling back to the mart agg only when the entry is absent
# (first load, or recovering from a lost watermark table).

def save_surrogate_hwm(spark, path: str, source: str, value: int) -> None:
    save_watermark(spark, path, f"{source}#surrogate", value)


def read_surrogate_hwm(spark, path: str, source: str) -> int | None:
    return read_watermark(spark, path, f"{source}#surrogate")
