"""Custom-join operator queries: as-of join, bucketed range join, and
salted skew-aware aggregation — beyond-reference extensions (the
reference's only join is the CDC left join, SURVEY.md §2.C), each with
a value-level DuckDB oracle (the as-of twin uses DuckDB's native
ASOF JOIN, so our window formulation is checked against an independent
implementation of the semantics, not a restatement of itself).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_etl_project_spark.operators.joins import asof_join, range_join, salted_agg
from pyspark_etl_project_spark.plans.tables import load

QUERIES = {}
ORACLE = {}


def _q(name, sql=None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn
    return deco


# --- as-of join: each view event gets the latest prior purchase -----------

@_q("asof_join_view_purchase", """
SELECT l.user_id, l.event_id, l.ts AS view_ts,
       r.event_id AS purchase_event_id, r.ts AS purchase_ts
FROM (SELECT * FROM events WHERE event_type = 'view') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
ON l.user_id = r.user_id AND r.ts <= l.ts
""")
def asof_join_view_purchase_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    views = (ev.filter(F.col("event_type") == "view")
               .select("user_id", "event_id", F.col("ts").alias("view_ts")))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                   .select("user_id", F.col("ts").alias("pts"),
                           F.col("event_id").alias("purchase_event_id"),
                           F.col("ts").alias("purchase_ts")))
    return asof_join(views, purchases, on="user_id",
                     left_ts="view_ts", right_ts="pts",
                     right_cols=["purchase_event_id", "purchase_ts"],
                     direction="backward")


# --- bucketed range join: points into variable-width intervals ------------

@_q("range_join_event_intervals", """
SELECT e.event_id, s.s_suppkey,
       s.s_suppkey * 97 AS r_start,
       s.s_suppkey * 97 + s.s_suppkey % 50 + 10 AS r_end
FROM events e
JOIN supplier s
  ON e.event_id >= s.s_suppkey * 97
 AND e.event_id <  s.s_suppkey * 97 + s.s_suppkey % 50 + 10
""")
def range_join_event_intervals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("event_id")
    sk = F.col("s_suppkey")
    intervals = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (sk * 97).alias("r_start"),
        (sk * 97 + sk % 50 + 10).alias("r_end"))
    return range_join(ev, intervals, point="event_id",
                      start="r_start", end="r_end", bucket_width=64)


# --- salted skew-aware aggregation ----------------------------------------
# l_returnflag has 3 distinct values over the whole fact table — the
# canonical hot-key layout. The salted two-phase plan splits each hot
# key across 16 reducers; the merged result must equal the plain
# GROUP BY (decimal partials keep the sum exact under any grouping).

@_q("salted_skew_agg", """
SELECT l_returnflag,
       CAST(FLOOR(SUM(CAST(l_quantity AS DECIMAL(18,6))) * 100) AS BIGINT)
         AS qty_cents,
       COUNT(*) AS n_rows,
       CAST(FLOOR(MAX(CAST(l_extendedprice AS DECIMAL(18,6))) * 100) AS BIGINT)
         AS max_price_cents
FROM lineitem GROUP BY l_returnflag
""")
def salted_skew_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (load(spark, sf_dir, "lineitem")
          .select("l_returnflag",
                  F.col("l_quantity").cast("decimal(18,6)").alias("qty_dec"),
                  F.col("l_extendedprice").cast("decimal(18,6)").alias("price_dec")))
    merged = salted_agg(li, "l_returnflag",
                        [("qty_dec", "sum", "qty_sum"),
                         ("qty_dec", "count", "n_rows"),
                         ("price_dec", "max", "max_price")],
                        num_salts=16)
    return merged.select(
        "l_returnflag",
        F.floor(F.col("qty_sum") * 100).cast("long").alias("qty_cents"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.floor(F.col("max_price") * 100).cast("long").alias("max_price_cents"))


# --- rollup aggregation (subtotals + grand total in one pass) -------------
# Beyond-reference breadth: the reference has no grouping sets
# (SURVEY.md §2.D note). The fact table is scanned and aggregated once
# at the finest level; the subtotal layers re-aggregate that tiny
# intermediate and do NOT rescan the fact table.

@_q("rollup_flag_status", """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_rows,
       CAST(FLOOR(SUM(CAST(l_quantity AS DECIMAL(18,6))) * 100) AS BIGINT)
         AS qty_cents
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""")
def rollup_flag_status_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ROLLUP output computed as finest-level agg + re-aggregation of the
    # tiny (flag, status) intermediate instead of the native Expand
    # (which triples every fact row BEFORE the map-side partial agg —
    # 3x scan-side CPU for subtotals derivable from 6 partial rows;
    # guide §2.2 partial aggregation). Decimal sums re-aggregate
    # exactly (addition is associative), so the rows are identical to
    # GROUP BY ROLLUP — the oracle replays the native form. NULL
    # subtotal markers cannot collide with data: both columns are
    # non-null TPC-H flags (a rollup over nullable group keys would
    # need grouping_id to stay unambiguous). Measured 1.50 -> 1.04 s
    # median at sf0.1 (identical 10-row output). On an empty fact
    # table the grand total is still one row, as in standard SQL and
    # the DuckDB oracle: COUNT(*) of nothing is 0 (hence the coalesce),
    # SUM of nothing stays NULL.
    li = load(spark, sf_dir, "lineitem")
    fine = (li.groupBy("l_returnflag", "l_linestatus")
              .agg(F.count(F.lit(1)).alias("_n"),
                   F.sum(F.col("l_quantity").cast("decimal(18,6)"))
                    .alias("_q"))
              .localCheckpoint(eager=False))

    def level(cols: list[str]) -> DataFrame:
        g = fine.groupBy(*cols) if cols else fine.groupBy()
        out = g.agg(F.coalesce(F.sum("_n"), F.lit(0)).cast("long")
                     .alias("n_rows"),
                    F.floor(F.sum("_q") * 100).cast("long")
                     .alias("qty_cents"))
        for c in ("l_returnflag", "l_linestatus"):
            if c not in cols:
                out = out.withColumn(c, F.lit(None).cast("string"))
        return out.select("l_returnflag", "l_linestatus",
                          "n_rows", "qty_cents")

    return (level(["l_returnflag", "l_linestatus"])
            .unionByName(level(["l_returnflag"]))
            .unionByName(level([])))


# --- metadata catalog (SURVEY.md §1.1: dictionary/registry/audit) ---------

def _dict_values_sql() -> tuple[str, str]:
    from pyspark_etl_project_spark.catalog import DATA_DICTIONARY, TABLE_COLUMNS
    doc = {(t, c) for t, c, _d, _a in DATA_DICTIONARY}
    col_rows = ", ".join(
        f"('{t}', '{c}')"
        for t in sorted(TABLE_COLUMNS) for c in TABLE_COLUMNS[t])
    doc_rows = ", ".join(f"('{t}', '{c}')" for t, c in sorted(doc))
    return col_rows, doc_rows


_COL_ROWS, _DOC_ROWS = _dict_values_sql()

@_q("catalog_doc_coverage", f"""
WITH cols(table_name, column_name) AS (VALUES {_COL_ROWS}),
doc(table_name, column_name) AS (VALUES {_DOC_ROWS})
SELECT c.table_name, COUNT(*) AS n_cols,
       CAST(SUM(CASE WHEN d.column_name IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_documented
FROM cols c LEFT JOIN doc d
  ON c.table_name = d.table_name AND c.column_name = d.column_name
GROUP BY c.table_name
""")
def catalog_doc_coverage_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.catalog import documentation_coverage

    return documentation_coverage(spark)


# Dictionary-declared domains as an executable audit over the events
# table (the reference used its dictionary as an informal contract;
# here it is a single conditional-aggregation pass).

@_q("catalog_domain_audit", """
SELECT rule, n_violations FROM (
  SELECT 'event_type_expected' AS rule,
         CAST(SUM(CASE WHEN event_type IN ('click','view','purchase','signup')
             THEN 0 ELSE 1 END) AS BIGINT) AS n_violations FROM events
  UNION ALL
  SELECT 'value_non_negative',
         CAST(SUM(CASE WHEN value >= 0 THEN 0 ELSE 1 END) AS BIGINT)
         FROM events
  UNION ALL
  SELECT 'user_id_present',
         CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         FROM events)
""")
def catalog_domain_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.catalog import EVENT_TYPES_EXPECTED, domain_audit

    ev = load(spark, sf_dir, "events")
    return domain_audit(ev, [
        ("event_type_expected",
         F.col("event_type").isin(EVENT_TYPES_EXPECTED)),
        ("value_non_negative", F.col("value") >= 0),
        ("user_id_present", F.col("user_id").isNotNull()),
    ])


# --- salted fact-dim join (skew-safe, result == plain join) ---------------

@_q("salted_join_supplier_agg", """
SELECT s.s_nationkey AS nation_key, COUNT(*) AS n_lines,
       CAST(FLOOR(SUM(CAST(l.l_quantity AS DECIMAL(18,6))) * 100) AS BIGINT)
         AS qty_cents
FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY s.s_nationkey
""")
def salted_join_supplier_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.operators.joins import salted_join

    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("s_suppkey"),
        F.col("l_quantity").cast("decimal(18,6)").alias("qty"))
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    joined = salted_join(li, sup, "s_suppkey", num_salts=8)
    return (joined.groupBy(F.col("s_nationkey").alias("nation_key"))
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.floor(F.sum("qty") * 100).cast("long").alias("qty_cents")))


# --- forward as-of: next error after each purchase --------------------------
# The other as-of direction (operators/joins.py:asof_join
# direction='forward', previously untested by the gate): for every
# purchase, the EARLIEST error event at-or-after it for the same user
# — the "did the checkout break afterwards" diagnostic join. Same
# single user-keyed shuffle as backward; DuckDB's native ASOF with a
# >= comparator is the oracle.

@_q("asof_join_forward_error", """
SELECT l.user_id, l.event_id, l.ts AS purchase_ts,
       r.event_id AS error_event_id, r.ts AS error_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') r
ON l.user_id = r.user_id AND r.ts >= l.ts
""")
def asof_join_forward_error_q(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                   .select("user_id", "event_id",
                           F.col("ts").alias("purchase_ts")))
    errors = (ev.filter(F.col("event_type") == "error")
                .select("user_id", F.col("ts").alias("ets"),
                        F.col("event_id").alias("error_event_id"),
                        F.col("ts").alias("error_ts")))
    return asof_join(purchases, errors, on="user_id",
                     left_ts="purchase_ts", right_ts="ets",
                     right_cols=["error_event_id", "error_ts"],
                     direction="forward")
