"""General analytics queries over the star schema — the shapes any
analytics engine must plan well (multi-table join aggregation,
semi/anti joins, windowed shares). Beyond the reference's ETL surface;
included so the engine's claim is 'analytics engine', not 'one
pipeline'. Money math follows the cross-engine rule: DECIMAL partials,
integer cents out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

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


# --- multi-table join aggregation -----------------------------------------
# customer ⋈ orders ⋈ lineitem ⋈ nation: the two fact joins shuffle on
# their keys (AQE picks broadcast for orders-side if it fits); nation is
# an explicit broadcast. Revenue = extendedprice*(1-discount) in DECIMAL.

@_q("revenue_by_nation_year", """
SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INTEGER) AS order_year,
       COUNT(*) AS n_lines,
       CAST(FLOOR(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,6)))) * 100)
            AS BIGINT) AS revenue_cents
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name, year(o.o_orderdate)
""")
def revenue_by_nation_year_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    n = load(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice").cast("decimal(18,6)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(18,6)")))
    return (c.join(o, c["c_custkey"] == o["o_custkey"])
             .join(li, o["o_orderkey"] == li["l_orderkey"])
             .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
             .groupBy(F.col("n_name").alias("nation"),
                      F.year("o_orderdate").cast("int").alias("order_year"))
             .agg(F.count(F.lit(1)).alias("n_lines"),
                  F.floor(F.sum(rev) * 100).cast("long").alias("revenue_cents")))


# --- semi + anti joins: urgent-order customers, lapsed customers ----------
# (consolidated into one labeled union: the left_semi and left_anti plan
# shapes both appear, each pushed-down filter reaches its scan)

@_q("semi_anti_customers", """
SELECT 'urgent' AS cohort, c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderpriority = '1-URGENT')
UNION ALL
SELECT 'lapsed', c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= DATE '1998-01-01')
""")
def semi_anti_customers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    urgent_o = (load(spark, sf_dir, "orders")
                .filter(F.col("o_orderpriority") == "1-URGENT"))
    recent_o = (load(spark, sf_dir, "orders")
                .filter(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")))
    urgent = (c.join(urgent_o, c["c_custkey"] == urgent_o["o_custkey"], "left_semi")
               .select(F.lit("urgent").alias("cohort"), "c_custkey", "c_name"))
    lapsed = (c.join(recent_o, c["c_custkey"] == recent_o["o_custkey"], "left_anti")
               .select(F.lit("lapsed").alias("cohort"), "c_custkey", "c_name"))
    return urgent.unionByName(lapsed)


# --- windowed share: each line's revenue share of its order ---------------
# The decorrelated form of a correlated per-order subquery: one window
# over the order key (one shuffle), integer basis points out.

@_q("order_line_revenue_share", """
SELECT l_orderkey, l_linenumber,
       CAST(
         (CAST(FLOOR(CAST(l_extendedprice AS DECIMAL(18,6)) * 100) AS BIGINT)
          * 10000)
         // SUM(CAST(FLOOR(CAST(l_extendedprice AS DECIMAL(18,6)) * 100)
                     AS BIGINT)) OVER (PARTITION BY l_orderkey)
       AS BIGINT) AS share_bp
FROM lineitem WHERE l_orderkey < 1000
""")
def order_line_revenue_share_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pure BIGINT arithmetic: prices truncate to exact integer cents,
    # the share is cents*10000 floor-div the order's cent total. A
    # decimal division here was a latent cross-engine hazard: Spark and
    # DuckDB ROUND the quotient to different result scales, which can
    # flip FLOOR when a share lands near an integer basis point — it
    # did at sf0.1 (green at sf0.01; caught by the full-scale sweep).
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    cents = (F.floor(F.col("l_extendedprice").cast("decimal(18,6)") * 100)
             .cast("long"))
    return (li.select("l_orderkey", "l_linenumber", cents.alias("_c"))
              .withColumn("share_bp",
                          F.expr("(_c * 10000) div sum(_c) over "
                                 "(partition by l_orderkey)"))
              .drop("_c"))


# --- exact grouped percentiles --------------------------------------------
# Spark `percentile` (exact, linear interpolation) vs DuckDB
# quantile_cont agree on this data; outputs floored to cents so an
# ulp-level interpolation difference can never flip the hash.

@_q("percentile_profile", """
SELECT l_returnflag,
       CAST(FLOOR(MIN(l_quantity) * 100) AS BIGINT) AS min_cents,
       CAST(FLOOR(quantile_cont(l_quantity, 0.5) * 100) AS BIGINT) AS p50_cents,
       CAST(FLOOR(quantile_cont(l_quantity, 0.9) * 100) AS BIGINT) AS p90_cents,
       CAST(FLOOR(MAX(l_quantity) * 100) AS BIGINT) AS max_cents
FROM lineitem GROUP BY l_returnflag
""")
def percentile_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.floor(F.min("l_quantity") * 100).cast("long").alias("min_cents"),
                 F.floor(F.expr("percentile(l_quantity, 0.5)") * 100)
                  .cast("long").alias("p50_cents"),
                 F.floor(F.expr("percentile(l_quantity, 0.9)") * 100)
                  .cast("long").alias("p90_cents"),
                 F.floor(F.max("l_quantity") * 100).cast("long").alias("max_cents")))


# --- semi-structured: JSON property extraction ----------------------------
# events.props carries a JSON payload; from_json parses it executor-side
# into a typed struct (schema declared, never inferred — per the
# engine's §1.2 rule), then plain relational ops apply.

@_q("json_props_extract", """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS k_sum,
       MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS k_max
FROM events GROUP BY event_type
""")
def json_props_extract_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    parsed = ev.withColumn("_p", F.from_json("props", "k INT"))
    return (parsed.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("_p.k").cast("long").alias("k_sum"),
                 F.max("_p.k").alias("k_max")))


# --- pricing summary (the TPC-H Q1 shape) ---------------------------------
# Scan + pushed date filter + one grouped aggregation; averages derived
# from exact decimal sums and counts (integer cents, engine-portable).

@_q("pricing_summary", """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_lines,
       CAST(FLOOR(SUM(CAST(l_quantity AS DECIMAL(18,6))) * 100) AS BIGINT)
         AS sum_qty_cents,
       CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) * 100) AS BIGINT)
         AS sum_price_cents,
       CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                      * (1 - CAST(l_discount AS DECIMAL(18,6)))) * 100) AS BIGINT)
         AS sum_disc_price_cents,
       CAST(FLOOR(SUM(CAST(l_quantity AS DECIMAL(18,6))) * 100 / COUNT(*))
         AS BIGINT) AS avg_qty_cents
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")
def pricing_summary_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (load(spark, sf_dir, "lineitem")
          .filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")))
    qty = F.col("l_quantity").cast("decimal(18,6)")
    price = F.col("l_extendedprice").cast("decimal(18,6)")
    disc = F.col("l_discount").cast("decimal(18,6)")
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.floor(F.sum(qty) * 100).cast("long").alias("sum_qty_cents"),
                 F.floor(F.sum(price) * 100).cast("long").alias("sum_price_cents"),
                 F.floor(F.sum(price * (F.lit(1) - disc)) * 100)
                  .cast("long").alias("sum_disc_price_cents"),
                 F.floor(F.sum(qty) * 100 / F.count(F.lit(1)))
                  .cast("long").alias("avg_qty_cents")))


# --- array aggregation (deterministic ordering) ---------------------------

@_q("user_event_type_sets", """
SELECT user_id,
       array_to_string(list_sort(list_distinct(array_agg(event_type))), ',')
         AS types_csv,
       COUNT(DISTINCT event_type) AS n_types
FROM events GROUP BY user_id
""")
def user_event_type_sets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Serialized to CSV (sorted, distinct) so every output column is a
    # hashable scalar for external result canonicalizers.
    ev = load(spark, sf_dir, "events")
    return (ev.groupBy("user_id")
            .agg(F.concat_ws(",", F.sort_array(F.collect_set("event_type")))
                  .alias("types_csv"),
                 F.countDistinct("event_type").cast("long").alias("n_types")))


# --- running cumulative sum (ordered window frame) ------------------------
# ROWS UNBOUNDED PRECEDING per user ordered by (ts, event_id): one
# shuffle on the user key; DECIMAL accumulation so the running total is
# order-exact in both engines (double accumulation would drift).

@_q("cumulative_user_value", """
SELECT event_id, user_id,
       CAST(FLOOR(SUM(CAST(value AS DECIMAL(18,6)))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) * 100) AS BIGINT)
         AS running_cents
FROM events WHERE user_id < 50
""")
def cumulative_user_value_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return ev.select(
        "event_id", "user_id",
        F.floor(F.sum(F.col("value").cast("decimal(18,6)")).over(w) * 100)
         .cast("long").alias("running_cents"))


# --- TPC-H Q3 shape: top-k revenue over a 3-way join ----------------------
# customer ⋈ orders ⋈ lineitem with filters pushed to each scan, grouped
# revenue, then top-10 via TakeOrderedAndProject (per-partition heaps +
# driver merge of k rows — never a global sort).

@_q("top_unshipped_orders", """
SELECT l.l_orderkey,
       CAST(FLOOR(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,6)))) * 100)
            AS BIGINT) AS revenue_cents,
       o.o_orderdate, o.o_orderpriority
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15'
  AND l.l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue_cents DESC, l.l_orderkey ASC LIMIT 10
""")
def top_unshipped_orders_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (load(spark, sf_dir, "customer")
         .filter(F.col("c_mktsegment") == "BUILDING"))
    o = (load(spark, sf_dir, "orders")
         .filter(F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")))
    li = (load(spark, sf_dir, "lineitem")
          .filter(F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")))
    rev = (F.col("l_extendedprice").cast("decimal(18,6)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(18,6)")))
    return (c.join(o, c["c_custkey"] == o["o_custkey"])
             .join(li, o["o_orderkey"] == li["l_orderkey"])
             .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
             .agg(F.floor(F.sum(rev) * 100).cast("long").alias("revenue_cents"))
             .select("l_orderkey", "revenue_cents", "o_orderdate", "o_orderpriority")
             .orderBy(F.col("revenue_cents").desc(), F.col("l_orderkey").asc())
             .limit(10))


# --- pivot (event types to columns) ---------------------------------------
# Explicit value list (never inferred — inference costs an extra scan);
# compiles to two-phase aggregation — a (user, type) partial then the
# pivot-by-user final — so the plan has two exchanges, the second
# carrying only the pre-pivoted per-pair aggregates.

@_q("pivot_event_counts", """
SELECT user_id,
       COUNT(*) FILTER (WHERE event_type = 'click') AS click,
       COUNT(*) FILTER (WHERE event_type = 'view') AS view,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
       COUNT(*) FILTER (WHERE event_type = 'error') AS error
FROM events GROUP BY user_id
""")
def pivot_event_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    out = (ev.groupBy("user_id")
             .pivot("event_type", types)
             .agg(F.count(F.lit(1))))
    # pivot leaves null where a (user, type) pair never occurred; the
    # SQL FILTER form yields 0 — align.
    return out.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t)
                     for t in types])


# --- ranking-function family in one pass ------------------------------------
# rank (gaps on value ties), dense_rank, ntile quartiles, lag/lead — all
# over ONE per-group window spec, so Catalyst plans a single shuffle on
# the group key and one sort. rank/dense_rank order by value alone
# (ties are the point — their outputs are tie-invariant); ntile/lag/lead
# add event_id as the unique tiebreak so row placement is deterministic.

@_q("window_rank_functions", """
SELECT event_id, event_type,
       RANK() OVER (PARTITION BY event_type ORDER BY value) AS rnk,
       DENSE_RANK() OVER (PARTITION BY event_type ORDER BY value) AS drnk,
       NTILE(4) OVER (PARTITION BY event_type
                      ORDER BY value, event_id) AS quartile,
       LAG(event_id) OVER (PARTITION BY event_type
                           ORDER BY value, event_id) AS prev_event_id,
       LEAD(event_id) OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS next_event_id
FROM events WHERE user_id < 30
""")
def window_rank_functions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    w_val = Window.partitionBy("event_type").orderBy("value")
    w_full = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id", "event_type",
        F.rank().over(w_val).alias("rnk"),
        F.dense_rank().over(w_val).alias("drnk"),
        F.ntile(4).over(w_full).alias("quartile"),
        F.lag("event_id").over(w_full).alias("prev_event_id"),
        F.lead("event_id").over(w_full).alias("next_event_id"))


# --- ordered funnel: view -> click -> purchase ------------------------------
# Stage k requires stage k-1's event to happen FIRST (ordered, not just
# present): conditional MINs chained through two broadcast-joined
# aggregation passes — each pass one shuffle on user_id; no window over
# raw events, no self cross-join.

@_q("funnel_user_stages", """
WITH v AS (
  SELECT user_id, MIN(ts) FILTER (WHERE event_type = 'view') AS mv
  FROM events GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS mc
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND v.mv IS NOT NULL AND e.ts >= v.mv
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS mp
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.mc
  GROUP BY e.user_id
)
SELECT v.user_id,
       CASE WHEN p.mp IS NOT NULL THEN 3
            WHEN c.mc IS NOT NULL THEN 2
            WHEN v.mv IS NOT NULL THEN 1
            ELSE 0 END AS funnel_stage
FROM v LEFT JOIN c ON v.user_id = c.user_id
       LEFT JOIN p ON v.user_id = p.user_id
""")
def funnel_user_stages_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (ev.groupBy("user_id")
           .agg(F.min(F.when(F.col("event_type") == "view", F.col("ts")))
                 .alias("mv")))
    c = (ev.filter(F.col("event_type") == "click")
           .join(v.filter(F.col("mv").isNotNull()), "user_id")
           .filter(F.col("ts") >= F.col("mv"))
           .groupBy("user_id").agg(F.min("ts").alias("mc")))
    p = (ev.filter(F.col("event_type") == "purchase")
           .join(c, "user_id")
           .filter(F.col("ts") >= F.col("mc"))
           .groupBy("user_id").agg(F.min("ts").alias("mp")))
    stage = (F.when(F.col("mp").isNotNull(), 3)
              .when(F.col("mc").isNotNull(), 2)
              .when(F.col("mv").isNotNull(), 1).otherwise(0))
    return (v.join(c, "user_id", "left").join(p, "user_id", "left")
             .select("user_id", stage.alias("funnel_stage")))


# --- time-series resample + forward fill -----------------------------------
# Gap-filling grid: per user, one row per day from first to last event
# (F.sequence + explode — rows generated executor-side, grid size =
# span, not events), left-joined to the per-day latest value, missing
# days forward-filled by last_value IGNORE NULLS over an ordered window.
# The feature-pipeline resampling shape (align events to a model grid).

@_q("resample_daily_ffill", """
WITH ev AS (
  SELECT user_id, date_trunc('day', ts) AS day, ts, event_id, value
  FROM events WHERE user_id < 20
), daily AS (
  SELECT user_id, day, value FROM (
    SELECT user_id, day, value,
           ROW_NUMBER() OVER (PARTITION BY user_id, day
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM ev) WHERE rn = 1
), grid AS (
  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS day
  FROM (SELECT user_id, MIN(day) AS mn, MAX(day) AS mx
        FROM ev GROUP BY user_id)
)
SELECT g.user_id, CAST(g.day AS TIMESTAMP) AS day,
       last_value(d.value IGNORE NULLS)
         OVER (PARTITION BY g.user_id ORDER BY g.day
               ROWS UNBOUNDED PRECEDING) AS value_ffill
FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
""")
def resample_daily_ffill_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (load(spark, sf_dir, "events")
          .filter(F.col("user_id") < 20)
          .select("user_id", F.date_trunc("day", "ts").alias("day"),
                  "ts", "event_id", "value"))
    w_day = (Window.partitionBy("user_id", "day")
             .orderBy(F.col("ts").desc(), F.col("event_id").desc()))
    daily = (ev.withColumn("_rn", F.row_number().over(w_day))
               .filter(F.col("_rn") == 1)
               .select("user_id", "day", "value"))
    grid = (ev.groupBy("user_id")
              .agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
              .select("user_id",
                      F.explode(F.sequence(
                          "mn", "mx", F.expr("INTERVAL 1 DAY"))).alias("day")))
    w_fill = (Window.partitionBy("user_id").orderBy("day")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (grid.join(daily, ["user_id", "day"], "left")
                .select("user_id", "day",
                        F.last("value", ignorenulls=True).over(w_fill)
                         .alias("value_ffill")))


def _seed_grand_total(df: DataFrame) -> DataFrame:
    """``df`` plus one all-NULL seed row, and a ``_real`` column that is
    1 on df's rows and NULL on the seed.

    Spark's native CUBE / GROUPING SETS over an empty input emits no
    rows at all, while standard SQL (and the DuckDB oracle) still emits
    the grand-total row with COUNT 0 and SUM NULL. Aggregating the
    seeded frame with COUNT(_real) (the seed counts as 0, and its NULL
    measures add nothing to a SUM) and keeping only groups with a real
    row or the grand-total grouping id gives the standard answer in the
    same single scan, Expand and shuffle: the seed is a one-row Range
    unioned under the Expand, and any subtotal group it alone creates
    is filtered out."""
    seed = df.sparkSession.range(1).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in df.schema])
    return (df.withColumn("_real", F.lit(1))
            .unionByName(seed.withColumn("_real", F.lit(None).cast("int"))))


# --- CUBE subtotals with grouping id ---------------------------------------
# All four grouping combinations in ONE pass (one Expand + one shuffle —
# never four scans); grouping_id disambiguates subtotal rows from real
# NULL keys. Same bitmask convention in both engines (leftmost = MSB).

@_q("cube_event_stats", """
SELECT event_type, user_id % 10 AS user_bucket,
       GROUPING(event_type, user_id % 10) AS gid,
       COUNT(*) AS n_events,
       CAST(FLOOR(SUM(CAST(value AS DECIMAL(18,6))) * 100) AS BIGINT)
         AS value_cents
FROM events
GROUP BY CUBE(event_type, user_id % 10)
""")
def cube_event_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 10).alias("user_bucket"), "value")
    return (_seed_grand_total(ev).cube("event_type", "user_bucket")
            .agg(F.grouping_id().cast("long").alias("gid"),
                 F.count("_real").alias("n_events"),
                 F.floor(F.sum(F.col("value").cast("decimal(18,6)")) * 100)
                  .cast("long").alias("value_cents"))
            .filter((F.col("n_events") > 0) | (F.col("gid") == 3))
            .select("event_type", "user_bucket", "gid", "n_events",
                    "value_cents"))


# --- set operations --------------------------------------------------------
# The reference has none (SURVEY.md §2.G); the engine supports the full
# family. Users active in BOTH early and late halves (intersect), only
# early (except), and either (union distinct) — all compile to
# aggregates/joins on the user key, one shuffle each.

@_q("set_ops_user_activity", """
WITH early AS (SELECT DISTINCT user_id FROM events WHERE event_id < 5000),
late AS (SELECT DISTINCT user_id FROM events WHERE event_id >= 5000)
SELECT 'both' AS cohort, COUNT(*) AS n_users
FROM (SELECT user_id FROM early INTERSECT SELECT user_id FROM late)
UNION ALL
SELECT 'early_only', COUNT(*)
FROM (SELECT user_id FROM early EXCEPT SELECT user_id FROM late)
UNION ALL
SELECT 'either', COUNT(*)
FROM (SELECT user_id FROM early UNION SELECT user_id FROM late)
""")
def set_ops_user_activity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    early = ev.filter(F.col("event_id") < 5000).select("user_id").distinct()
    late = ev.filter(F.col("event_id") >= 5000).select("user_id").distinct()
    rows = [
        ("both", early.intersect(late)),
        ("early_only", early.subtract(late)),
        ("either", early.union(late).distinct()),
    ]
    parts = [df.agg(F.lit(name).alias("cohort"),
                    F.count(F.lit(1)).alias("n_users"))
             for name, df in rows]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --- unpivot / melt (wide -> long) ----------------------------------------
# The inverse of pivot_event_counts: lineitem's parallel measure columns
# melt into (measure, value) rows via DataFrame.unpivot — one narrow
# scan, no shuffle until the verification agg. Values land as exact
# integer cents.

@_q("unpivot_lineitem_measures", """
WITH m AS (
  SELECT l_orderkey, l_linenumber, measure,
         CAST(FLOOR(CAST(v AS DECIMAL(18,6)) * 100) AS BIGINT) AS cents
  FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
               l_discount
        FROM lineitem WHERE l_orderkey < 200)
  UNPIVOT (v FOR measure IN (l_quantity, l_extendedprice, l_discount)))
SELECT measure, COUNT(*) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       CAST(MIN(cents) AS BIGINT) AS min_cents,
       CAST(MAX(cents) AS BIGINT) AS max_cents
FROM m GROUP BY measure
""")
def unpivot_lineitem_measures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (load(spark, sf_dir, "lineitem")
          .filter(F.col("l_orderkey") < 200)
          .select("l_orderkey", "l_linenumber", "l_quantity",
                  "l_extendedprice", "l_discount"))
    long = li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="measure", valueColumnName="v")
    cents = F.floor(F.col("v").cast("decimal(18,6)") * 100).cast("long")
    return (long.withColumn("cents", cents)
            .groupBy("measure")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("cents").cast("long").alias("total_cents"),
                 F.min("cents").cast("long").alias("min_cents"),
                 F.max("cents").cast("long").alias("max_cents")))


# --- distribution window functions ----------------------------------------
# percent_rank / cume_dist complete the ranking family (rank/dense_rank/
# ntile/lag/lead live in window_rank_functions): integer-ratio doubles
# computed by the identical formula in both engines, so they hash exact.

@_q("window_distribution_functions", """
SELECT l_orderkey, l_linenumber,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume_d
FROM lineitem WHERE l_orderkey < 300
WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_quantity, l_linenumber)
""")
def window_distribution_functions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 300)
    w = (Window.partitionBy("l_orderkey")
               .orderBy("l_quantity", "l_linenumber"))
    return li.select("l_orderkey", "l_linenumber",
                     F.percent_rank().over(w).alias("pct_rank"),
                     F.cume_dist().over(w).alias("cume_d"))


# --- grouping sets (beyond rollup/cube) ------------------------------------
# Arbitrary grouping-set list — the third member of the multi-level
# aggregation family: per-flag totals, per-status totals, and the grand
# total in ONE pass (one Expand + one shuffle), never three scans.

@_q("grouping_sets_flag_status", """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
       CAST(FLOOR(SUM(CAST(l_quantity AS DECIMAL(18,6))) * 100) AS BIGINT)
         AS qty_cents
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""")
def grouping_sets_flag_status_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity")
    _seed_grand_total(li).createOrReplaceTempView("_gs_lineitem")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus, COUNT(_real) AS n_rows,
               CAST(FLOOR(SUM(CAST(l_quantity AS DECIMAL(18,6))) * 100)
                    AS BIGINT) AS qty_cents
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        HAVING COUNT(_real) > 0
            OR GROUPING_ID(l_returnflag, l_linestatus) = 3
    """)


# --- time-range window frame (RANGE BETWEEN ... PRECEDING) -----------------
# Sliding 1-hour aggregates per user, computed by a RANGE frame over the
# event timestamp — the physical frame slides, no self-join and no
# explode-into-buckets. Ordering key is integer microseconds so the
# frame boundary (and tie/peer inclusion) is identical in both engines;
# per-row integer cents make the windowed SUM associative and
# bit-portable. One shuffle on user_id.

@_q("moving_sum_time_range", """
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS us,
         CAST(FLOOR(CAST(value AS DECIMAL(18,6)) * 100) AS BIGINT) AS cents
  FROM events)
SELECT event_id, user_id,
       COUNT(*) OVER w AS n_1h,
       CAST(SUM(cents) OVER w AS BIGINT) AS cents_1h
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY us
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
""")
def moving_sum_time_range_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    cents = F.floor(F.col("value").cast("decimal(18,6)") * 100).cast("long")
    w = (Window.partitionBy("user_id")
               .orderBy(F.unix_micros("ts"))
               .rangeBetween(-3_600_000_000, 0))
    return ev.select(
        "event_id", "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum(cents).over(w).cast("long").alias("cents_1h"))


# --- fixed-width histogram -------------------------------------------------
# Document-length distribution per language: explicit floor-arithmetic
# bucketing (width 500 chars, clamped top bucket) instead of an
# engine-specific width_bucket builtin, so both engines compute the
# identical bucket id. Map-side combinable groupBy — one bounded shuffle
# (#langs x 20 buckets).

@_q("char_length_histogram", """
SELECT lang,
       LEAST(CAST(FLOOR(n_chars / 500) AS BIGINT), 19) AS bucket,
       COUNT(*) AS n_docs,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents
GROUP BY lang, LEAST(CAST(FLOOR(n_chars / 500) AS BIGINT), 19)
""")
def char_length_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    bucket = F.least(F.floor(F.col("n_chars") / 500).cast("long"), F.lit(19))
    return (docs.groupBy("lang", bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("n_chars").cast("long").alias("min_chars"),
                 F.max("n_chars").cast("long").alias("max_chars")))


# --- multiple DISTINCT aggregates ------------------------------------------
# COUNT(DISTINCT x) alongside COUNT(DISTINCT y) and a plain SUM in ONE
# grouped agg — the planner shape Spark compiles via a single Expand
# (one row per distinct-group per input row) + two-stage aggregation,
# never one scan per aggregate. Counts are exact (the approx sketch
# path is a different operator); output is integers only.

@_q("distinct_counts_per_group", """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(DISTINCT value) AS n_values,
       CAST(FLOOR(SUM(CAST(value AS DECIMAL(18,6))) * 100) AS BIGINT)
         AS value_cents
FROM events
GROUP BY event_type
""")
def distinct_counts_per_group_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.countDistinct("user_id").alias("n_users"),
                 F.countDistinct("value").alias("n_values"),
                 F.floor(F.sum(F.col("value").cast("decimal(18,6)")) * 100)
                  .cast("long").alias("value_cents")))


# --- window value functions (first/last/nth) --------------------------------
# first_value / last_value / nth_value complete the window family
# (ranking: window_rank_functions; distribution:
# window_distribution_functions). All three run over an explicit
# whole-partition ROWS frame with a UNIQUE ordering (quantity then line
# number), so peer-group/frame-default semantics can never differ
# between engines. Integer cents out.

@_q("window_value_functions", """
SELECT l_orderkey, l_linenumber,
       CAST(FLOOR(FIRST_VALUE(l_quantity) OVER w * 100) AS BIGINT)
         AS first_qty_cents,
       CAST(FLOOR(LAST_VALUE(l_quantity) OVER w * 100) AS BIGINT)
         AS last_qty_cents,
       CAST(FLOOR(NTH_VALUE(l_quantity, 2) OVER w * 100) AS BIGINT)
         AS second_qty_cents
FROM lineitem WHERE l_orderkey < 300
WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_quantity, l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""")
def window_value_functions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 300)
    w = (Window.partitionBy("l_orderkey")
               .orderBy("l_quantity", "l_linenumber")
               .rowsBetween(Window.unboundedPreceding,
                            Window.unboundedFollowing))
    cents = lambda c: F.floor(c * 100).cast("long")  # noqa: E731
    return li.select(
        "l_orderkey", "l_linenumber",
        cents(F.first("l_quantity").over(w)).alias("first_qty_cents"),
        cents(F.last("l_quantity").over(w)).alias("last_qty_cents"),
        cents(F.nth_value("l_quantity", 2).over(w)).alias("second_qty_cents"))


# --- promo revenue (the TPC-H Q14 shape) -----------------------------------
# Conditional revenue split by joined-dimension attribute: lineitem ⋈
# part with the CASE evaluated on the part side. The month filter is
# pushed to the fact scan; the join key is the fact's foreign key, so
# at cluster scale this is a shuffled hash join (part grows with SF —
# not assumed broadcastable; AQE may still pick broadcast when it
# fits). Numerator and denominator are emitted as separate integer
# cents — no cross-engine decimal-division rounding in the output.

@_q("promo_revenue_split", """
SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
       CAST(month(l_shipdate) AS INTEGER) AS ship_month,
       COUNT(*) AS n_lines,
       CAST(FLOOR(SUM(CASE WHEN p_type LIKE 'PROMO%'
                           THEN CAST(l_extendedprice AS DECIMAL(18,6))
                                * (1 - CAST(l_discount AS DECIMAL(18,6)))
                           ELSE CAST(0 AS DECIMAL(18,6)) END) * 100)
            AS BIGINT) AS promo_cents,
       CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                      * (1 - CAST(l_discount AS DECIMAL(18,6)))) * 100)
            AS BIGINT) AS total_cents
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= DATE '1997-01-01'
GROUP BY year(l_shipdate), month(l_shipdate)
""")
def promo_revenue_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (load(spark, sf_dir, "lineitem")
          .filter(F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")))
    part = load(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice").cast("decimal(18,6)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(18,6)")))
    promo = F.when(F.col("p_type").like("PROMO%"), rev) \
             .otherwise(F.lit(0).cast("decimal(18,6)"))
    return (li.join(part, li["l_partkey"] == part["p_partkey"])
            .groupBy(F.year("l_shipdate").cast("int").alias("ship_year"),
                     F.month("l_shipdate").cast("int").alias("ship_month"))
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.floor(F.sum(promo) * 100).cast("long").alias("promo_cents"),
                 F.floor(F.sum(rev) * 100).cast("long").alias("total_cents")))


# --- VARIANT semi-structured extraction ------------------------------------
# The Spark 4 native path for schema-flexible JSON: parse_json -> open
# VARIANT (binary, no declared schema — unlike json_props_extract's
# fixed from_json struct), typed access via try_variant_get with the
# cast at the extraction point. The predicate on the extracted value
# still prunes before the aggregate; storage-side, VARIANT columns
# shred to parquet so repeated paths read columnar at scale.

@_q("variant_props_extract", """
SELECT event_type, COUNT(*) AS n_high,
       CAST(SUM(k) AS BIGINT) AS k_sum
FROM (SELECT event_type,
             CAST(json_extract(props, '$.k') AS INTEGER) AS k
      FROM events)
WHERE k > 50
GROUP BY event_type
""")
def variant_props_extract_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "int")
    return (ev.select("event_type", k.alias("k"))
            .filter(F.col("k") > 50)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_high"),
                 F.sum("k").cast("long").alias("k_sum")))


# --- correlated LATERAL join (top-N rows per outer row) ---------------------
# The decorrelation planner path: a correlated subquery with ORDER BY +
# LIMIT under JOIN LATERAL. Catalyst rewrites it to a ranked window
# over the join key — same physical shape as window_dedup_latest, but
# arrived at from the correlated-SQL surface users actually write.
# Unique (price, linenumber) ordering keeps the LIMIT cut
# deterministic in both engines.

@_q("lateral_topk_per_order", """
SELECT o.o_orderkey, l.l_linenumber, l.cents
FROM orders o CROSS JOIN LATERAL (
  SELECT l_linenumber,
         CAST(FLOOR(CAST(l_extendedprice AS DECIMAL(18,6)) * 100) AS BIGINT)
           AS cents
  FROM lineitem WHERE l_orderkey = o.o_orderkey
  ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) l
WHERE o.o_orderkey < 100
""")
def lateral_topk_per_order_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("_lat_orders")
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("_lat_lineitem")
    return spark.sql("""
        SELECT o.o_orderkey, l.l_linenumber, l.cents
        FROM _lat_orders o JOIN LATERAL (
          SELECT l_linenumber,
                 CAST(FLOOR(CAST(l_extendedprice AS DECIMAL(18,6)) * 100)
                      AS BIGINT) AS cents
          FROM _lat_lineitem WHERE l_orderkey = o.o_orderkey
          ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) l
        WHERE o.o_orderkey < 100
    """)


# --- SQL pipe syntax --------------------------------------------------------
# Spark 4's |> pipe operators compile to the identical logical plan as
# the nested-SELECT form — the oracle IS that form, so this doubles as
# the proof of plan equivalence at the value level.

@_q("pipe_syntax_pricing", """
SELECT l_returnflag, COUNT(*) AS n_rows,
       CAST(FLOOR(SUM(CAST(l_quantity AS DECIMAL(18,6))) * 100) AS BIGINT)
         AS qty_cents
FROM lineitem WHERE l_orderkey < 1000
GROUP BY l_returnflag
""")
def pipe_syntax_pricing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("_pipe_lineitem")
    return spark.sql("""
        FROM _pipe_lineitem
        |> WHERE l_orderkey < 1000
        |> AGGREGATE COUNT(*) AS n_rows,
                     CAST(FLOOR(SUM(CAST(l_quantity AS DECIMAL(18,6))) * 100)
                          AS BIGINT) AS qty_cents
           GROUP BY l_returnflag
        |> SELECT l_returnflag, n_rows, qty_cents
    """)


# --- weekly cohort retention ------------------------------------------------
# Classic cohort grid: users bucketed by first-activity week, activity
# counted per (cohort_week, week_offset). Two shuffles on user_id (the
# map-side-combinable MIN agg, then the fact-to-cohort join — same key,
# so AQE co-partitions them), then one bounded agg on the ~(weeks x
# weeks) grid. No driver-side loops; both engines truncate to ISO-Monday
# weeks, and the offset is an exact day-diff / 7 because both bounds are
# Mondays.

@_q("cohort_retention_weekly", """
WITH firsts AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY user_id),
activity AS (
  SELECT DISTINCT e.user_id, f.cohort_week,
         CAST(date_diff('day', f.cohort_week,
                        date_trunc('week', e.ts)) / 7 AS INTEGER)
           AS week_offset
  FROM events e JOIN firsts f ON e.user_id = f.user_id)
SELECT cohort_week, week_offset,
       COUNT(*) AS active_users
FROM activity GROUP BY cohort_week, week_offset
""")
def cohort_retention_weekly_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    firsts = (ev.groupBy("user_id")
                .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week")))
    activity = (ev.join(firsts, "user_id")
                  .select("user_id", "cohort_week",
                          (F.datediff(F.date_trunc("week", F.col("ts")),
                                      F.col("cohort_week")) / 7)
                          .cast("int").alias("week_offset"))
                  .distinct())
    return (activity.groupBy("cohort_week", "week_offset")
                    .agg(F.count(F.lit(1)).alias("active_users")))


# --- per-user inactivity gap detection --------------------------------------
# lag() over (user_id, ts) finds every inactivity gap above a threshold —
# one shuffle on user_id, no self-join, no explode. The gap is an exact
# integer microsecond difference (epoch_us both sides), sidestepping
# date_diff('second') boundary-counting vs truncation divergence.

@_q("event_gap_detection", """
WITH seq AS (
  SELECT user_id, ts,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events)
SELECT user_id, prev_ts AS gap_start, ts AS gap_end,
       epoch_us(ts) - epoch_us(prev_ts) AS gap_us
FROM seq
WHERE prev_ts IS NOT NULL
  AND epoch_us(ts) - epoch_us(prev_ts) > 6 * 3600 * 1000000::BIGINT
""")
def event_gap_detection_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.col("prev_ts"))
    return (ev.withColumn("prev_ts", F.lag("ts").over(w))
              .filter(F.col("prev_ts").isNotNull()
                      & (gap > F.lit(6 * 3600 * 1_000_000)))
              .select("user_id", F.col("prev_ts").alias("gap_start"),
                      F.col("ts").alias("gap_end"), gap.alias("gap_us")))


# --- order-priority late-shipment check (TPC-H Q4 plan shape) -------------
# EXISTS with a cross-table predicate → left_semi join whose condition
# spans both sides (orderkey equi + shipdate-vs-orderdate range), then a
# small groupBy on priority. The semi join shuffles on the order key
# once; the range predicate rides the same join (no second pass). The
# testdata carries no commit/receipt dates, so "late" is
# ship-more-than-90-days-after-order.

@_q("order_priority_late_ship", """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
GROUP BY o_orderpriority
""")
def order_priority_late_ship_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    cond = ((o["o_orderkey"] == li["l_orderkey"])
            & (li["l_shipdate"]
               > o["o_orderdate"] + F.expr("INTERVAL 90 DAYS")))
    return (o.join(li, cond, "left_semi")
             .groupBy("o_orderpriority")
             .agg(F.count(F.lit(1)).alias("n_orders")))


# --- customer order-count distribution (TPC-H Q13 plan shape) -------------
# Double aggregation over a LEFT OUTER join: customers keep their zero
# row, the first groupBy shuffles on the customer key, and the second
# (the histogram of per-customer counts) reduces to at-most-max-orders
# rows — map-side partial aggregation makes it nearly free. The filtered
# outer side keeps its pushed-down predicate at the scan.

@_q("customer_order_distribution", """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
  GROUP BY c.c_custkey)
GROUP BY c_count
""")
def customer_order_distribution_q(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = (load(spark, sf_dir, "orders")
         .filter(F.col("o_orderpriority") != "5-LOW"))
    per_cust = (c.join(o, c["c_custkey"] == o["o_custkey"], "left")
                 .groupBy(c["c_custkey"])
                 .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist")))


# --- per-user event transition matrix -------------------------------------
# Markov transition counts and integer-ppm probabilities between
# consecutive events of the same user: one lead() window over the
# user key (one shuffle — ties broken on event_id so the sequence is
# total), then a 25-cell aggregate. The behavioral-analytics shape
# (what follows a click?) built from lag/lead, not a self-join.

@_q("event_transition_matrix", """
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
), t AS (
  SELECT event_type, next_type, COUNT(*) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
)
SELECT event_type, next_type, n,
       CAST(n * 1000000 // SUM(n) OVER (PARTITION BY event_type)
            AS BIGINT) AS prob_ppm
FROM t
""")
def event_transition_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (ev.select("user_id", "event_type",
                     F.lead("event_type").over(w).alias("next_type"))
             .filter(F.col("next_type").isNotNull()))
    t = (seq.groupBy("event_type", "next_type")
            .agg(F.count(F.lit(1)).alias("n")))
    return t.withColumn(
        "prob_ppm",
        F.expr("n * 1000000 div sum(n) over (partition by event_type)"))


# --- event-rate anomaly detection ------------------------------------------
# Hourly event counts per type vs the trailing-24h hourly average,
# entirely integer (ratio in basis points, spike = rate > 1.5x the
# trailing mean with a warmup guard). Two bounded shuffles: the hourly
# pre-aggregate (map-combined; the window then runs over the SMALL
# hourly series, never raw events) and the per-type hour window.

@_q("event_rate_anomalies", """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_ts, COUNT(*) AS n
  FROM events GROUP BY event_type, date_trunc('hour', ts)
), trail AS (
  SELECT event_type, hour_ts, n,
         COUNT(*) OVER w AS trail_hours,
         CAST(COALESCE(SUM(n) OVER w, 0) AS BIGINT) AS trail_n
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(hour_ts)
               RANGE BETWEEN 86400000000 PRECEDING
                         AND 3600000000 PRECEDING)
)
SELECT event_type, hour_ts, n,
       CAST(trail_hours AS INTEGER) AS trail_hours,
       trail_n,
       CAST(CASE WHEN trail_n > 0
            THEN n * trail_hours * 10000 // trail_n ELSE 0 END AS BIGINT)
         AS rate_bp,
       CAST(CASE WHEN trail_hours >= 6 AND trail_n > 0
                  AND n * trail_hours * 2 > trail_n * 3
            THEN 1 ELSE 0 END AS INTEGER) AS is_spike
FROM trail
""")
def event_rate_anomalies_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", "ts").alias("hour_ts"))
                .agg(F.count(F.lit(1)).alias("n")))
    w = (Window.partitionBy("event_type")
               .orderBy(F.unix_micros("hour_ts"))
               .rangeBetween(-86_400_000_000, -3_600_000_000))
    return (hourly
            .withColumn("trail_hours",
                        F.count(F.lit(1)).over(w).cast("int"))
            .withColumn("trail_n",
                        F.coalesce(F.sum("n").over(w), F.lit(0))
                         .cast("long"))
            .withColumn("rate_bp",
                        F.expr("cast(case when trail_n > 0 then"
                               " n * trail_hours * 10000 div trail_n"
                               " else 0 end as bigint)"))
            .withColumn("is_spike",
                        F.expr("cast(case when trail_hours >= 6"
                               " and trail_n > 0"
                               " and n * trail_hours * 2 > trail_n * 3"
                               " then 1 else 0 end as int)")))


# --- ANALYZE-style column statistics, one pass ------------------------------
# NDV / null count / min / max for four heterogeneous lineitem columns
# in a SINGLE aggregate pass (what `ANALYZE TABLE ... COMPUTE
# STATISTICS FOR COLUMNS` gathers for the optimizer), then stacked to
# long format driver-side-free. Numeric bounds are floored to integer
# cents and timestamps to epoch-us BIGINTs before stringifying, so the
# representation is engine-exact (no float/timestamp formatting
# dependence).

@_q("table_column_stats", """
WITH s AS (
  SELECT COUNT(DISTINCT l_quantity) AS ndv_q,
         SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS null_q,
         CAST(FLOOR(MIN(l_quantity) * 100) AS BIGINT) AS min_q,
         CAST(FLOOR(MAX(l_quantity) * 100) AS BIGINT) AS max_q,
         COUNT(DISTINCT l_returnflag) AS ndv_r,
         SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS null_r,
         MIN(l_returnflag) AS min_r, MAX(l_returnflag) AS max_r,
         COUNT(DISTINCT l_shipdate) AS ndv_s,
         SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS null_s,
         MIN(epoch_us(l_shipdate)) AS min_s,
         MAX(epoch_us(l_shipdate)) AS max_s,
         COUNT(DISTINCT l_extendedprice) AS ndv_e,
         SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)
           AS null_e,
         CAST(FLOOR(MIN(l_extendedprice) * 100) AS BIGINT) AS min_e,
         CAST(FLOOR(MAX(l_extendedprice) * 100) AS BIGINT) AS max_e
  FROM lineitem
)
SELECT 'l_quantity' AS column_name, CAST(ndv_q AS BIGINT) AS ndv,
       CAST(null_q AS BIGINT) AS n_nulls,
       CAST(min_q AS VARCHAR) AS min_repr, CAST(max_q AS VARCHAR) AS max_repr
FROM s
UNION ALL
SELECT 'l_returnflag', CAST(ndv_r AS BIGINT), CAST(null_r AS BIGINT),
       min_r, max_r FROM s
UNION ALL
SELECT 'l_shipdate', CAST(ndv_s AS BIGINT), CAST(null_s AS BIGINT),
       CAST(min_s AS VARCHAR), CAST(max_s AS VARCHAR) FROM s
UNION ALL
SELECT 'l_extendedprice', CAST(ndv_e AS BIGINT), CAST(null_e AS BIGINT),
       CAST(min_e AS VARCHAR), CAST(max_e AS VARCHAR) FROM s
""")
def table_column_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One agg PER COLUMN, unioned — not one agg with four
    # countDistincts. Multiple distinct aggregates make Catalyst plan
    # an Expand that replicates every row once per distinct group (5×
    # here) through the shuffle; per-column single-distinct aggs plan
    # as ordinary two-phase hash aggregates over a scan pruned to that
    # one column. Measured at sf0.1: 8.1 s → 1.6 s median, identical
    # output; at 100 TB four column-pruned scans + distinct-value-sized
    # shuffles beat one full-width scan expanded 5×.
    li = load(spark, sf_dir, "lineitem")

    def col_stats(c, min_repr, max_repr):
        return (li.agg(F.countDistinct(c).cast("long").alias("ndv"),
                       F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                        .cast("long").alias("n_nulls"),
                       min_repr.alias("min_repr"),
                       max_repr.alias("max_repr"))
                .select(F.lit(c).alias("column_name"), "ndv", "n_nulls",
                        "min_repr", "max_repr"))

    def cents(f, c):
        return F.floor(f(c) * 100).cast("long").cast("string")

    def epoch(f, c):
        # l_shipdate is TIMESTAMP_NTZ; the UTC session (enforced by
        # plans/tables.py:load) makes the cast epoch-exact vs DuckDB.
        return f(F.unix_micros(F.col(c).cast("timestamp"))).cast("string")

    parts = [
        col_stats("l_quantity", cents(F.min, "l_quantity"),
                  cents(F.max, "l_quantity")),
        col_stats("l_returnflag", F.min("l_returnflag"),
                  F.max("l_returnflag")),
        col_stats("l_shipdate", epoch(F.min, "l_shipdate"),
                  epoch(F.max, "l_shipdate")),
        col_stats("l_extendedprice", cents(F.min, "l_extendedprice"),
                  cents(F.max, "l_extendedprice")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --- write-time partial stats == direct ANALYZE (merge-gated) ---------------
# The 100 TB mitigation for table_column_stats' honest linear cost:
# stats partials stamped per partition at write time (counts, bounds,
# KMV hash state — operators/stats.py:column_stats_partials) merged
# into the table's stats WITHOUT rescanning history. The gate proves
# the merge is EXACT: for each column, merged n_rows/n_nulls/min/max
# equal the direct full-scan values, and the merged KMV NDV estimate
# is bit-identical to the direct sketch (k-min sets merge
# associatively), with the exact NDV alongside as calibration.
# Partition key is l_orderkey % 8 so the oracle can replay the split.

@_q("partial_stats_merge", """
WITH base_e AS (
  SELECT l_orderkey % 8 AS part,
         CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS v
  FROM lineitem
), base_r AS (
  SELECT l_orderkey % 8 AS part, l_returnflag AS v FROM lineitem
),
pscal_e AS (
  SELECT part, COUNT(*) AS n_rows,
         SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS n_nulls,
         MIN(v) AS min_v, MAX(v) AS max_v
  FROM base_e GROUP BY part
),
phash_e AS (
  SELECT part, h FROM (
    SELECT part, h, ROW_NUMBER() OVER (PARTITION BY part ORDER BY h) AS rn
    FROM (SELECT DISTINCT part,
                 CAST(concat('0x', substr(md5('pstats-v1|'
                      || CAST(v AS VARCHAR)), 1, 12)) AS BIGINT) AS h
          FROM base_e WHERE v IS NOT NULL)) WHERE rn <= 64
),
merged_e AS (
  SELECT (SELECT CAST(SUM(n_rows) AS BIGINT) FROM pscal_e) AS n_rows,
         (SELECT CAST(SUM(n_nulls) AS BIGINT) FROM pscal_e) AS n_nulls,
         (SELECT MIN(min_v) FROM pscal_e) AS min_v,
         (SELECT MAX(max_v) FROM pscal_e) AS max_v,
         (SELECT CAST(CASE WHEN COUNT(*) < 64 THEN COUNT(*)
                 ELSE 63 * CAST(281474976710656 AS BIGINT) // MAX(h) END
                 AS BIGINT)
          FROM (SELECT DISTINCT h FROM phash_e ORDER BY h LIMIT 64))
           AS est_ndv
),
direct_e AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_nulls,
         MIN(v) AS min_v, MAX(v) AS max_v,
         CAST(COUNT(DISTINCT v) AS BIGINT) AS exact_ndv,
         (SELECT CAST(CASE WHEN COUNT(*) < 64 THEN COUNT(*)
                 ELSE 63 * CAST(281474976710656 AS BIGINT) // MAX(h) END
                 AS BIGINT)
          FROM (SELECT DISTINCT
                       CAST(concat('0x', substr(md5('pstats-v1|'
                            || CAST(v AS VARCHAR)), 1, 12)) AS BIGINT) AS h
                FROM base_e WHERE v IS NOT NULL ORDER BY h LIMIT 64))
           AS est_ndv
  FROM base_e
),
pscal_r AS (
  SELECT part, COUNT(*) AS n_rows,
         SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS n_nulls,
         MIN(v) AS min_v, MAX(v) AS max_v
  FROM base_r GROUP BY part
),
phash_r AS (
  SELECT part, h FROM (
    SELECT part, h, ROW_NUMBER() OVER (PARTITION BY part ORDER BY h) AS rn
    FROM (SELECT DISTINCT part,
                 CAST(concat('0x', substr(md5('pstats-v1|' || v), 1, 12))
                      AS BIGINT) AS h
          FROM base_r WHERE v IS NOT NULL)) WHERE rn <= 64
),
merged_r AS (
  SELECT (SELECT CAST(SUM(n_rows) AS BIGINT) FROM pscal_r) AS n_rows,
         (SELECT CAST(SUM(n_nulls) AS BIGINT) FROM pscal_r) AS n_nulls,
         (SELECT MIN(min_v) FROM pscal_r) AS min_v,
         (SELECT MAX(max_v) FROM pscal_r) AS max_v,
         (SELECT CAST(CASE WHEN COUNT(*) < 64 THEN COUNT(*)
                 ELSE 63 * CAST(281474976710656 AS BIGINT) // MAX(h) END
                 AS BIGINT)
          FROM (SELECT DISTINCT h FROM phash_r ORDER BY h LIMIT 64))
           AS est_ndv
),
direct_r AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_nulls,
         MIN(v) AS min_v, MAX(v) AS max_v,
         CAST(COUNT(DISTINCT v) AS BIGINT) AS exact_ndv,
         (SELECT CAST(CASE WHEN COUNT(*) < 64 THEN COUNT(*)
                 ELSE 63 * CAST(281474976710656 AS BIGINT) // MAX(h) END
                 AS BIGINT)
          FROM (SELECT DISTINCT
                       CAST(concat('0x', substr(md5('pstats-v1|' || v),
                            1, 12)) AS BIGINT) AS h
                FROM base_r WHERE v IS NOT NULL ORDER BY h LIMIT 64))
           AS est_ndv
  FROM base_r
)
SELECT 'l_extendedprice_cents' AS column_name,
       m.n_rows, m.n_nulls,
       CAST(m.min_v AS VARCHAR) AS min_repr,
       CAST(m.max_v AS VARCHAR) AS max_repr,
       m.est_ndv, d.exact_ndv,
       CAST(CASE WHEN m.n_rows = d.n_rows AND m.n_nulls = d.n_nulls
                  AND m.min_v = d.min_v AND m.max_v = d.max_v
                  AND m.est_ndv = d.est_ndv
            THEN 1 ELSE 0 END AS INTEGER) AS merged_eq_direct
FROM merged_e m, direct_e d
UNION ALL
SELECT 'l_returnflag', m.n_rows, m.n_nulls, m.min_v, m.max_v,
       m.est_ndv, d.exact_ndv,
       CAST(CASE WHEN m.n_rows = d.n_rows AND m.n_nulls = d.n_nulls
                  AND m.min_v = d.min_v AND m.max_v = d.max_v
                  AND m.est_ndv = d.est_ndv
            THEN 1 ELSE 0 END AS INTEGER)
FROM merged_r m, direct_r d
""")
def partial_stats_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.operators.stats import (
        column_stats_direct, column_stats_merge, column_stats_partials)

    li = load(spark, sf_dir, "lineitem")
    # One lazy materialization of the (part, value, value) projection
    # feeds every branch below. The partials and the direct side still
    # compute INDEPENDENTLY (no derived state — hash sets, bounds,
    # counts — is shared, so merged==direct stays a real calibration);
    # what they share is the INPUT scan, which used to run 8 times
    # (scalar partials, hash partials, direct agg, direct hashes — ×2
    # columns) over the same parquet bytes (guide §2.4/§6).
    base = (li.select((F.col("l_orderkey") % 8).alias("part"),
                      F.floor(F.col("l_extendedprice") * 100).cast("long")
                       .alias("v_cents"),
                      F.col("l_returnflag").alias("v_flag"))
            .localCheckpoint(eager=False))

    def one(name: str, value_col: str) -> DataFrame:
        sub = base.select("part", F.col(value_col).alias("v"))
        scalar, hashes = column_stats_partials(sub, F.col("part"),
                                               F.col("v"))
        merged = column_stats_merge(scalar, hashes)
        direct = column_stats_direct(sub, F.col("v"))
        d = direct.select(F.col("n_rows").alias("d_n_rows"),
                          F.col("n_nulls").alias("d_n_nulls"),
                          F.col("min_v").alias("d_min_v"),
                          F.col("max_v").alias("d_max_v"),
                          F.col("exact_ndv"),
                          F.col("est_ndv").alias("d_est_ndv"))
        agree = (F.col("n_rows").eqNullSafe(F.col("d_n_rows"))
                 & F.col("n_nulls").eqNullSafe(F.col("d_n_nulls"))
                 & F.col("min_v").eqNullSafe(F.col("d_min_v"))
                 & F.col("max_v").eqNullSafe(F.col("d_max_v"))
                 & F.col("est_ndv").eqNullSafe(F.col("d_est_ndv")))
        return (merged.crossJoin(F.broadcast(d))
                .select(F.lit(name).alias("column_name"),
                        "n_rows", "n_nulls",
                        F.col("min_v").cast("string").alias("min_repr"),
                        F.col("max_v").cast("string").alias("max_repr"),
                        "est_ndv", "exact_ndv",
                        agree.cast("int").alias("merged_eq_direct")))

    return (one("l_extendedprice_cents", "v_cents")
            .unionByName(one("l_returnflag", "v_flag")))


# --- full-outer reconciliation report --------------------------------------
# The ETL reconciliation classic (and the engine's FULL OUTER join
# shape): two overlapping extracts of the same feed diffed by key —
# matched / left-only / right-only, with an exact cents delta where
# both sides are present. One co-partitioned shuffle on the key.

@_q("source_reconciliation_report", """
WITH a AS (
  SELECT o_orderkey AS k,
         CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
           AS cents
  FROM orders WHERE o_orderkey < 5000
), b AS (
  SELECT o_orderkey AS k,
         CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
           + CASE WHEN o_orderkey % 10 = 0 THEN 1 ELSE 0 END AS cents
  FROM orders WHERE o_orderkey >= 2500 AND o_orderkey < 7500
)
SELECT CASE WHEN a.k IS NULL THEN 'right_only'
            WHEN b.k IS NULL THEN 'left_only'
            WHEN a.cents <> b.cents THEN 'value_mismatch'
            ELSE 'matched' END AS status,
       COUNT(*) AS n_keys,
       CAST(SUM(CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL
                THEN abs(a.cents - b.cents) ELSE 0 END) AS BIGINT)
         AS abs_delta_cents
FROM a FULL OUTER JOIN b ON a.k = b.k
GROUP BY 1
""")
def source_reconciliation_report_q(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    cents = (F.floor(F.col("o_totalprice").cast("decimal(18,6)") * 100)
             .cast("long"))
    a = (o.filter(F.col("o_orderkey") < 5000)
          .select(F.col("o_orderkey").alias("k"), cents.alias("cents_a")))
    b = (o.filter((F.col("o_orderkey") >= 2500)
                  & (F.col("o_orderkey") < 7500))
          .select(F.col("o_orderkey").alias("k"),
                  (cents + F.when(F.col("o_orderkey") % 10 == 0, 1)
                            .otherwise(0)).alias("cents_b")))
    # full outer cannot broadcast; shuffled-hash keeps the repo's
    # no-sort-merge posture (both sides already key-partitioned).
    j = a.join(b.hint("shuffle_hash"), "k", "full_outer")
    status = (F.when(F.col("cents_a").isNull(), "right_only")
               .when(F.col("cents_b").isNull(), "left_only")
               .when(F.col("cents_a") != F.col("cents_b"),
                     "value_mismatch")
               .otherwise("matched"))
    delta = F.when(F.col("cents_a").isNotNull()
                   & F.col("cents_b").isNotNull(),
                   F.abs(F.col("cents_a") - F.col("cents_b"))).otherwise(0)
    return (j.select(status.alias("status"), delta.alias("_d"))
             .groupBy("status")
             .agg(F.count(F.lit(1)).alias("n_keys"),
                  F.sum("_d").cast("long").alias("abs_delta_cents")))


# --- exact integer dispersion by group -------------------------------------
# Decomposable variance without floats: per event type, n, Σcents and
# Σcents² in BIGINTs; the variance NUMERATOR n·Σx² − (Σx)² is exact
# integer math (the float division by n² is left to the reader of the
# stats table, keeping the gate bit-exact). Map-side combinable — the
# partial-agg shape incremental stats maintenance merges. Value range
# note: cents ≤ ~10⁵ here so Σx² fits BIGINT through sf100; a 100 TB
# run would hold Σx² in DECIMAL(38,0) — same plan shape.

@_q("value_dispersion_by_type", """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(SUM(cents * cents) AS BIGINT) AS sumsq_cents,
       CAST(COUNT(*) * SUM(cents * cents) - SUM(cents) * SUM(cents)
            AS BIGINT) AS var_numer
FROM (SELECT event_type,
             CAST(FLOOR(CAST(value AS DECIMAL(18,6)) * 100) AS BIGINT)
               AS cents
      FROM events)
GROUP BY event_type
""")
def value_dispersion_by_type_q(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    cents = (F.floor(F.col("value").cast("decimal(18,6)") * 100)
             .cast("long"))
    return (ev.select("event_type", cents.alias("_c"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("_c").cast("long").alias("sum_cents"),
                 F.sum(F.col("_c") * F.col("_c")).cast("long")
                  .alias("sumsq_cents"))
            .withColumn("var_numer",
                        (F.col("n") * F.col("sumsq_cents")
                         - F.col("sum_cents") * F.col("sum_cents"))
                        .cast("long")))


# --- deterministic grouped mode + discrete percentiles ----------------------
# mode() builtins tie-break arbitrarily (engine-dependent), so the
# mode is derived explicitly: highest count, then smallest value — and
# the discrete median is the value at sorted position ceil(n/2)
# (percentile_disc semantics) via the same rank machinery. Everything
# integer-cents; two bounded shuffles (value-count groupBy + group
# window over the small count table).

@_q("grouped_mode_median_disc", """
WITH v AS (
  SELECT l_returnflag AS flag,
         CAST(FLOOR(l_quantity * 100) AS BIGINT) AS q
  FROM lineitem
), counts AS (
  SELECT flag, q, COUNT(*) AS c FROM v GROUP BY flag, q
), mode_pick AS (
  SELECT flag, q AS mode_cents, c AS mode_count FROM (
    SELECT flag, q, c,
           ROW_NUMBER() OVER (PARTITION BY flag
                              ORDER BY c DESC, q ASC) AS rn
    FROM counts) WHERE rn = 1
), ordered AS (
  SELECT flag, q, c,
         SUM(c) OVER (PARTITION BY flag ORDER BY q
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(c) OVER (PARTITION BY flag) AS total
  FROM counts
), med AS (
  SELECT flag, MIN(q) AS median_disc_cents
  FROM ordered WHERE cum >= (total + 1) // 2 GROUP BY flag
)
SELECT m.flag AS l_returnflag, m.mode_cents,
       CAST(m.mode_count AS BIGINT) AS mode_count,
       d.median_disc_cents
FROM mode_pick m JOIN med d ON m.flag = d.flag
""")
def grouped_mode_median_disc_q(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    v = li.select(F.col("l_returnflag").alias("flag"),
                  F.floor(F.col("l_quantity") * 100).cast("long")
                   .alias("q"))
    counts = v.groupBy("flag", "q").agg(F.count(F.lit(1)).alias("c"))
    counts = counts.localCheckpoint(eager=False)
    w_mode = (Window.partitionBy("flag")
              .orderBy(F.desc("c"), F.asc("q")))
    mode_pick = (counts.withColumn("rn", F.row_number().over(w_mode))
                 .filter("rn = 1")
                 .select("flag", F.col("q").alias("mode_cents"),
                         F.col("c").cast("long").alias("mode_count")))
    w_cum = (Window.partitionBy("flag").orderBy("q")
             .rowsBetween(Window.unboundedPreceding, 0))
    w_tot = Window.partitionBy("flag")
    med = (counts
           .withColumn("cum", F.sum("c").over(w_cum))
           .withColumn("total", F.sum("c").over(w_tot))
           .filter(F.expr("cum >= (total + 1) div 2"))
           .groupBy("flag")
           .agg(F.min("q").alias("median_disc_cents")))
    return (mode_pick.join(med, "flag")
            .select(F.col("flag").alias("l_returnflag"), "mode_cents",
                    "mode_count", "median_disc_cents"))


# --- join-skew diagnostic report -------------------------------------------
# The operability view a 100 TB join needs BEFORE it runs: per-key
# group sizes of the prospective join key, reduced to the skew signal
# (heaviest key, p50/p99/max group size by explicit rank, and the
# ratio that decides salting). Group sizes are one map-combined
# groupBy; the percentile ranks run over the (small) distinct-key
# table, never the fact rows.

@_q("join_skew_report", """
WITH g AS (
  SELECT o_custkey AS k, COUNT(*) AS sz FROM orders GROUP BY o_custkey
), r AS (
  SELECT k, sz,
         ROW_NUMBER() OVER (ORDER BY sz, k) AS rn,
         COUNT(*) OVER () AS n
  FROM g
)
SELECT
  (SELECT COUNT(*) FROM g) AS n_keys,
  (SELECT MIN(k) FROM g WHERE sz = (SELECT MAX(sz) FROM g))
    AS heaviest_key,
  CAST((SELECT MAX(sz) FROM g) AS BIGINT) AS max_group,
  CAST((SELECT MIN(sz) FROM r WHERE rn >= (n + 1) // 2) AS BIGINT)
    AS p50_group,
  CAST((SELECT MIN(sz) FROM r WHERE rn >= (n * 99 + 99) // 100)
       AS BIGINT) AS p99_group,
  CAST((SELECT MAX(sz) FROM g) * 100
       // (SELECT MIN(sz) FROM r WHERE rn >= (n + 1) // 2) AS BIGINT)
    AS max_over_p50_pct
""")
def join_skew_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    from pyspark_etl_project_spark.operators.scd2 import dense_row_number

    g = (o.groupBy(F.col("o_custkey").alias("k"))
          .agg(F.count(F.lit(1)).alias("sz"))
          .localCheckpoint(eager=False))
    # rank via the two-phase range-partitioned row number: the
    # distinct-key table is small HERE, but at 100 TB a fact key can
    # have ~1e9 distinct values — a bare Window.orderBy would funnel
    # them into one task.
    n_total = g.agg(F.count(F.lit(1)).alias("n"))
    r = (dense_row_number(g, ["sz", "k"], "rn")
         .crossJoin(F.broadcast(n_total)))
    heaviest = (g.orderBy(F.desc("sz"), F.asc("k")).limit(1)
                .select(F.col("k").alias("heaviest_key"),
                        F.col("sz").cast("long").alias("max_group")))
    p50 = (r.filter(F.expr("rn >= (n + 1) div 2"))
           .agg(F.min("sz").cast("long").alias("p50_group")))
    p99 = (r.filter(F.expr("rn >= (n * 99 + 99) div 100"))
           .agg(F.min("sz").cast("long").alias("p99_group")))
    nk = g.agg(F.count(F.lit(1)).alias("n_keys"))
    return (nk.crossJoin(F.broadcast(heaviest))
              .crossJoin(F.broadcast(p50))
              .crossJoin(F.broadcast(p99))
              .withColumn("max_over_p50_pct",
                          F.expr("max_group * 100 div p50_group"))
              .select("n_keys", "heaviest_key", "max_group",
                      "p50_group", "p99_group", "max_over_p50_pct"))


# --- conversion latency deciles --------------------------------------------
# view -> next purchase latency per user (forward as-of), reduced to an
# exact decile grid in integer microseconds — the funnel-health metric
# a growth dashboard tracks. The as-of join is the single user-keyed
# shuffle; the decile grid runs over the (small) distinct-latency
# count table.

@_q("conversion_latency_deciles", """
WITH m AS (
  SELECT l.ts AS vts, r.ts AS pts
  FROM (SELECT * FROM events WHERE event_type = 'view') l
  ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id AND r.ts >= l.ts
), lat AS (
  SELECT epoch_us(pts) - epoch_us(vts) AS us FROM m
), counts AS (
  SELECT us, COUNT(*) AS c FROM lat GROUP BY us
), r AS (
  SELECT us, c,
         SUM(c) OVER (ORDER BY us
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(c) OVER () AS total
  FROM counts
)
SELECT q.decile, CAST(MIN(us) AS BIGINT) AS latency_us
FROM r, (SELECT unnest(range(1, 10)) AS decile) q
WHERE cum * 10 >= total * q.decile
GROUP BY q.decile
""")
def conversion_latency_deciles_q(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    from pyspark_etl_project_spark.operators.joins import asof_join

    ev = load(spark, sf_dir, "events")
    views = (ev.filter(F.col("event_type") == "view")
               .select("user_id", F.col("ts").alias("vts")))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                   .select("user_id", F.col("ts").alias("_pts"),
                           F.col("ts").alias("pts")))
    m = asof_join(views, purchases, on="user_id", left_ts="vts",
                  right_ts="_pts", right_cols=["pts"],
                  direction="forward").filter(F.col("pts").isNotNull())
    lat = m.select((F.unix_micros("pts") - F.unix_micros("vts"))
                   .alias("us"))
    counts = lat.groupBy("us").agg(F.count(F.lit(1)).alias("c"))
    w_cum = (Window.orderBy("us")
             .rowsBetween(Window.unboundedPreceding, 0))
    w_tot = Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)
    # the count table is distinct latencies (bounded, micro-dedup'd);
    # a driver-visible global window over it is the small-side plan —
    # at larger cardinality swap in dense_row_number as elsewhere.
    r = (counts.withColumn("cum", F.sum("c").over(w_cum))
               .withColumn("total", F.sum("c").over(w_tot)))
    deciles = spark.range(1, 10).select(F.col("id").cast("int")
                                        .alias("decile"))
    return (r.crossJoin(F.broadcast(deciles))
            .filter(F.col("cum") * 10 >= F.col("total") * F.col("decile"))
            .groupBy("decile")
            .agg(F.min("us").cast("long").alias("latency_us")))


# --- market-basket lift between event types within sessions -----------------
# Which event types co-occur in the same 30-minute session above
# chance: distinct (session, type) pairs from the sessionizer, pair
# co-occurrence counts via a session-keyed self-join (per-session
# group bounded by the 5 event types — no blowup), and integer lift
# lift_milli = co * n_sessions * 1000 div (cnt_a * cnt_b).

@_q("session_basket_lift", """
WITH s AS (
  SELECT user_id, ts, event_type,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sess
  FROM (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id))
                > 1800000000 OR LAG(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) IS NULL
           THEN 1 ELSE 0 END AS brk
    FROM events)
), st AS (
  SELECT DISTINCT user_id, sess, event_type FROM s
), totals AS (
  SELECT COUNT(DISTINCT user_id || '|' || sess) AS n_sessions FROM st
), cnt AS (
  SELECT event_type, COUNT(*) AS c FROM st GROUP BY event_type
), co AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         COUNT(*) AS n_co
  FROM st a JOIN st b
    ON a.user_id = b.user_id AND a.sess = b.sess
   AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT co.type_a, co.type_b, co.n_co,
       CAST(co.n_co * t.n_sessions * 1000 // (ca.c * cb.c) AS BIGINT)
         AS lift_milli
FROM co, totals t
JOIN cnt ca ON co.type_a = ca.event_type
JOIN cnt cb ON co.type_b = cb.event_type
""")
def session_basket_lift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    brk = F.when(
        F.lag("ts").over(w).isNull()
        | ((F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)))
           > 1_800_000_000), 1).otherwise(0)
    s = (ev.withColumn("brk", brk)
           .withColumn("sess", F.sum("brk").over(
               w.rowsBetween(Window.unboundedPreceding, 0))))
    st = (s.select("user_id", "sess", "event_type").distinct()
           .localCheckpoint(eager=False))
    totals = (st.select("user_id", "sess").distinct()
              .agg(F.count(F.lit(1)).alias("n_sessions")))
    cnt = st.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    co = (st.alias("a")
          .join(st.alias("b").hint("shuffle_hash"),
                (F.col("a.user_id") == F.col("b.user_id"))
                & (F.col("a.sess") == F.col("b.sess"))
                & (F.col("a.event_type") < F.col("b.event_type")))
          .groupBy(F.col("a.event_type").alias("type_a"),
                   F.col("b.event_type").alias("type_b"))
          .agg(F.count(F.lit(1)).alias("n_co")))
    ca = F.broadcast(cnt.select(F.col("event_type").alias("type_a"),
                                F.col("c").alias("_ca")))
    cb = F.broadcast(cnt.select(F.col("event_type").alias("type_b"),
                                F.col("c").alias("_cb")))
    return (co.crossJoin(F.broadcast(totals))
              .join(ca, "type_a").join(cb, "type_b")
              .select("type_a", "type_b", "n_co",
                      F.expr("cast(n_co * n_sessions * 1000"
                             " div (_ca * _cb) as bigint)")
                       .alias("lift_milli")))


# --- gaps-and-islands: longest daily activity streak ------------------------
# Classic islands: per user, consecutive-calendar-day runs found by the
# date - dense_rank trick (island key = day minus rank-of-day is
# constant within a run), then the longest streak. Two user-keyed
# shuffles (distinct days, rank window); the island groupBy reuses the
# user partitioning.

@_q("user_activity_streaks", """
WITH days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
  FROM events
), ranked AS (
  SELECT user_id, d,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS rn
  FROM days
), islands AS (
  SELECT user_id, d - CAST(rn AS INTEGER) AS island, COUNT(*) AS len
  FROM ranked GROUP BY user_id, d - CAST(rn AS INTEGER)
)
SELECT user_id,
       CAST(MAX(len) AS INTEGER) AS longest_streak,
       CAST(COUNT(*) AS INTEGER) AS n_streaks,
       CAST(SUM(len) AS INTEGER) AS active_days
FROM islands GROUP BY user_id
""")
def user_activity_streaks_q(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    days = (ev.select("user_id",
                      F.to_date(F.date_trunc("day", "ts")).alias("d"))
              .distinct())
    w = Window.partitionBy("user_id").orderBy("d")
    ranked = days.withColumn("rn", F.row_number().over(w))
    islands = (ranked
               .withColumn("island", F.date_sub(F.col("d"), F.col("rn")))
               .groupBy("user_id", "island")
               .agg(F.count(F.lit(1)).alias("len")))
    return (islands.groupBy("user_id")
            .agg(F.max("len").cast("int").alias("longest_streak"),
                 F.count(F.lit(1)).cast("int").alias("n_streaks"),
                 F.sum("len").cast("int").alias("active_days")))


# --- interval-union coverage per user ---------------------------------------
# Each event opens a 5-minute activity window; total ACTIVE time per
# user is the measure of the union of overlapping intervals — the
# running-max "newly covered" trick (same algebra as the dup-span
# merge) in one user-keyed window pass, no interval self-join.

@_q("user_active_coverage", """
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e
  FROM events
), m AS (
  SELECT user_id, s, e,
         COALESCE(MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -1) AS pe
  FROM iv
)
SELECT user_id,
       CAST(SUM(CASE WHEN s > pe THEN 1 ELSE 0 END) AS INTEGER)
         AS n_bursts,
       CAST(SUM(GREATEST(e - GREATEST(pe, s), 0)) AS BIGINT)
         AS active_us
FROM m GROUP BY user_id
""")
def user_active_coverage_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    iv = ev.select("user_id", F.unix_micros("ts").alias("s"),
                   (F.unix_micros("ts") + 300_000_000).alias("e"))
    w = (Window.partitionBy("user_id").orderBy("s", "e")
         .rowsBetween(Window.unboundedPreceding, -1))
    m = iv.withColumn("pe", F.coalesce(F.max("e").over(w), F.lit(-1)))
    return (m.groupBy("user_id")
            .agg(F.sum(F.when(F.col("s") > F.col("pe"), 1).otherwise(0))
                  .cast("int").alias("n_bursts"),
                 F.sum(F.greatest(F.col("e") - F.greatest("pe", "s"),
                                  F.lit(0))).cast("long")
                  .alias("active_us")))


# --- percentile winsorization ------------------------------------------------
# Robust-mean preparation: clip order totals at the exact p01/p99
# cents bounds (rank-derived, no float percentile), report the clip
# envelope and the winsorized sum per order priority. The clip bounds
# come from the per-group count table (two window passes over distinct
# values), then a broadcast join back to the facts — the facts
# themselves are never globally sorted.

@_q("winsorized_order_totals", """
WITH v AS (
  SELECT o_orderpriority AS pri,
         CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
           AS cents
  FROM orders
), counts AS (
  SELECT pri, cents, COUNT(*) AS c FROM v GROUP BY pri, cents
), r AS (
  SELECT pri, cents, c,
         SUM(c) OVER (PARTITION BY pri ORDER BY cents
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(c) OVER (PARTITION BY pri) AS total
  FROM counts
), bounds AS (
  SELECT pri,
         MIN(CASE WHEN cum * 100 >= total * 1 THEN cents END) AS lo,
         MIN(CASE WHEN cum * 100 >= total * 99 THEN cents END) AS hi
  FROM r GROUP BY pri
)
SELECT v.pri AS o_orderpriority, COUNT(*) AS n_orders,
       b.lo AS p01_cents, b.hi AS p99_cents,
       CAST(SUM(CASE WHEN v.cents < b.lo THEN 1
                     WHEN v.cents > b.hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped,
       CAST(SUM(LEAST(GREATEST(v.cents, b.lo), b.hi)) AS BIGINT)
         AS winsorized_cents
FROM v JOIN bounds b ON v.pri = b.pri
GROUP BY v.pri, b.lo, b.hi
""")
def winsorized_order_totals_q(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    cents = (F.floor(F.col("o_totalprice").cast("decimal(18,6)") * 100)
             .cast("long"))
    v = (o.select(F.col("o_orderpriority").alias("pri"),
                  cents.alias("cents"))
          .localCheckpoint(eager=False))
    counts = v.groupBy("pri", "cents").agg(F.count(F.lit(1)).alias("c"))
    w_cum = (Window.partitionBy("pri").orderBy("cents")
             .rowsBetween(Window.unboundedPreceding, 0))
    w_tot = Window.partitionBy("pri")
    r = (counts.withColumn("cum", F.sum("c").over(w_cum))
               .withColumn("total", F.sum("c").over(w_tot)))
    bounds = (r.groupBy("pri")
              .agg(F.min(F.when(F.col("cum") * 100 >= F.col("total"),
                                F.col("cents"))).alias("lo"),
                   F.min(F.when(F.col("cum") * 100
                                >= F.col("total") * 99,
                                F.col("cents"))).alias("hi")))
    clipped = F.least(F.greatest(F.col("cents"), F.col("lo")),
                      F.col("hi"))
    flag = F.when((F.col("cents") < F.col("lo"))
                  | (F.col("cents") > F.col("hi")), 1).otherwise(0)
    return (v.join(F.broadcast(bounds), "pri")
            .groupBy(F.col("pri").alias("o_orderpriority"),
                     F.col("lo").alias("p01_cents"),
                     F.col("hi").alias("p99_cents"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(flag).cast("long").alias("n_clipped"),
                 F.sum(clipped).cast("long").alias("winsorized_cents"))
            .select("o_orderpriority", "n_orders", "p01_cents",
                    "p99_cents", "n_clipped", "winsorized_cents"))


# --- order-insensitive table content fingerprint ----------------------------
# One BIGINT that identifies a table's CONTENT regardless of row order
# or partitioning: per-row md5 folded to 48 bits and SUMmed (addition
# commutes, so any execution order gives the same digest), plus the
# row count. The cheap cross-environment reconciliation handshake —
# two pipelines compare (n_rows, fingerprint) instead of shipping
# data. Null-safe via an explicit sentinel in the row serialization.

@_q("table_content_fingerprint", """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(concat('0x', substr(md5(
           concat_ws('|', CAST(l_orderkey AS VARCHAR),
                     CAST(l_linenumber AS VARCHAR),
                     COALESCE(CAST(CAST(FLOOR(l_quantity * 100)
                           AS BIGINT) AS VARCHAR), 'NULL'),
                     COALESCE(l_returnflag, 'NULL'))), 1, 12))
           AS BIGINT)) AS BIGINT) AS fingerprint
FROM lineitem WHERE l_orderkey < 8000
""")
def table_content_fingerprint_q(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    li = (load(spark, sf_dir, "lineitem")
          .filter(F.col("l_orderkey") < 8000))
    row_h = F.conv(F.substring(F.md5(F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        # doubles serialize via exact integer cents — raw
        # double->string formatting is engine-dependent.
        F.coalesce(F.floor(F.col("l_quantity") * 100).cast("long")
                    .cast("string"), F.lit("NULL")),
        F.coalesce(F.col("l_returnflag"), F.lit("NULL")))), 1, 12),
        16, 10).cast("long")
    return li.agg(F.count(F.lit(1)).alias("n_rows"),
                  F.sum(row_h).cast("long").alias("fingerprint"))


# --- grouped null imputation -------------------------------------------------
# The cleaning primitive: nulls (synthesized deterministically on
# event_id%7 so the gate has something to fill) imputed with the
# GROUP integer mean of the surviving values — imputed column, null
# count and the imputation value all checked. Group means come from
# one map-combined aggregate broadcast back; no window over the facts.

@_q("impute_missing_values", """
WITH e AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 7 = 0 THEN NULL
              ELSE CAST(FLOOR(CAST(value AS DECIMAL(18,6)) * 100)
                        AS BIGINT) END AS cents
  FROM events
), m AS (
  SELECT event_type,
         CAST(SUM(cents) // COUNT(cents) AS BIGINT) AS mean_cents,
         CAST(SUM(CASE WHEN cents IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_imputed
  FROM e GROUP BY event_type
)
SELECT e.event_type, m.n_imputed, m.mean_cents,
       COUNT(*) AS n_events,
       CAST(SUM(COALESCE(e.cents, m.mean_cents)) AS BIGINT)
         AS imputed_sum_cents
FROM e JOIN m ON e.event_type = m.event_type
GROUP BY e.event_type, m.n_imputed, m.mean_cents
""")
def impute_missing_values_q(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    cents = F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(
        F.floor(F.col("value").cast("decimal(18,6)") * 100).cast("long"))
    e = (ev.select("event_type", cents.alias("cents"))
           .localCheckpoint(eager=False))
    m = (e.groupBy("event_type")
         .agg(F.expr("cast(sum(cents) div count(cents) as bigint)")
              .alias("mean_cents"),
              F.sum(F.when(F.col("cents").isNull(), 1).otherwise(0))
               .cast("long").alias("n_imputed")))
    return (e.join(F.broadcast(m), "event_type")
            .groupBy("event_type", "n_imputed", "mean_cents")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.coalesce("cents", "mean_cents")).cast("long")
                  .alias("imputed_sum_cents"))
            .select("event_type", "n_imputed", "mean_cents", "n_events",
                    "imputed_sum_cents"))


# --- time-weighted average per user -----------------------------------------
# Each observation's value holds until the user's next event; the
# time-weighted mean is Σ(v·Δt) div ΣΔt in exact integers (cents ×
# μs) — the correct average for irregularly-sampled series, where the
# arithmetic mean over-weights bursts. One lead() window per user,
# then a plain aggregate; no self-join, no resampling grid.

@_q("time_weighted_average", """
WITH s AS (
  SELECT user_id,
         CAST(FLOOR(CAST(value AS DECIMAL(18,6)) * 100) AS BIGINT)
           AS cents,
         epoch_us(ts) AS t,
         LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS nt
  FROM events
), seg AS (
  SELECT user_id, cents, nt - t AS dt FROM s WHERE nt IS NOT NULL
)
SELECT user_id, COUNT(*) AS n_segments,
       CAST(SUM(dt) AS BIGINT) AS span_us,
       CAST(SUM(cents * dt) // SUM(dt) AS BIGINT) AS twa_cents
FROM seg GROUP BY user_id
""")
def time_weighted_average_q(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    cents = (F.floor(F.col("value").cast("decimal(18,6)") * 100)
             .cast("long"))
    # lead() ordering mirrors the oracle exactly: event time (as the
    # epoch-us integer) with the event_id tiebreak.
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    s = (ev.select("user_id", cents.alias("cents"),
                   F.unix_micros("ts").alias("t"), "event_id")
           .withColumn("nt", F.lead("t").over(w))
           .filter(F.col("nt").isNotNull())
           .withColumn("dt", F.col("nt") - F.col("t")))
    return (s.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_segments"),
                 F.sum("dt").cast("long").alias("span_us"),
                 F.expr("cast(sum(cents * dt) div sum(dt) as bigint)")
                  .alias("twa_cents")))


# --- JSON payload validation / quarantine ------------------------------------
# Completes the per-source quarantine trio (CSV line and XML record
# quarantines live in the pipelines): events' JSON props — with
# deterministic synthetic corruption so the gate exercises every class
# — are split into valid / structurally-invalid JSON / parseable-but-
# bad-k, the routing a bronze->silver hop applies before typed
# extraction. Classification is engine-parallel: Spark's PERMISSIVE
# from_json null row == DuckDB's NOT json_valid; a null typed field on
# a parsed row == TRY_CAST failure.

@_q("json_props_quarantine", """
WITH e AS (
  SELECT event_id,
         CASE WHEN event_id % 11 = 0
                THEN '[' || substr(props, 2)
              WHEN event_id % 13 = 0
                THEN regexp_replace(props, '[0-9]+', '"x"', 'g')
              WHEN event_id % 17 = 0
                THEN replace(props, '"k"', '"j"')
              ELSE props END AS p
  FROM events
), g AS (
  SELECT event_id, json_valid(p) AS ok, p FROM e
), c AS (
  SELECT event_id, ok,
         CASE WHEN ok THEN json_extract_string(p, '$.k') END AS kraw
  FROM g
), s AS (
  -- 'unparseable' mirrors Spark's PERMISSIVE corrupt-record rule:
  -- malformed JSON OR a present-but-uncastable k both mark the record
  -- corrupt; a parseable record simply MISSING k does not.
  SELECT CASE WHEN NOT ok
                   OR (kraw IS NOT NULL
                       AND TRY_CAST(kraw AS INTEGER) IS NULL)
                THEN 'unparseable'
              WHEN kraw IS NULL THEN 'missing_k'
              ELSE 'valid' END AS status,
         TRY_CAST(kraw AS INTEGER) AS k
  FROM c
)
SELECT status, COUNT(*) AS n_events,
       CAST(COALESCE(SUM(k), 0) AS BIGINT) AS k_sum
FROM s GROUP BY status
""")
def json_props_quarantine_q(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    p = (F.when(F.col("event_id") % 11 == 0,
                F.concat(F.lit("["), F.expr("substring(props, 2)")))
          .when(F.col("event_id") % 13 == 0,
                F.regexp_replace("props", "[0-9]+", '"x"'))
          .when(F.col("event_id") % 17 == 0,
                F.expr("replace(props, '\"k\"', '\"j\"')"))
          .otherwise(F.col("props")))
    parsed = (ev.select("event_id", p.alias("p"))
                .withColumn("_s", F.from_json(
                    "p", "k INT, _corrupt STRING",
                    {"columnNameOfCorruptRecord": "_corrupt"})))
    status = (F.when(F.col("_s._corrupt").isNotNull(), "unparseable")
               .when(F.col("_s.k").isNull(), "missing_k")
               .otherwise("valid"))
    return (parsed.select(status.alias("status"),
                          F.col("_s.k").alias("k"))
            .groupBy("status")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.coalesce(F.sum("k"), F.lit(0)).cast("long")
                  .alias("k_sum")))


# --- consecutive-duplicate event collapse (debounce) ------------------------
# Sensor/click debounce: drop an event when it repeats its immediate
# predecessor's type within 5 s for the same user (lag() against the
# previous EVENT — the stateless form; the stateful previous-KEPT
# variant lives in streaming/stateful.py's API family). One user-keyed
# window; gate checks kept counts and the per-type survivor sums.

@_q("event_debounce_collapse", """
WITH s AS (
  SELECT user_id, event_id, event_type, ts,
         LAG(event_type) OVER w AS prev_type,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), kept AS (
  SELECT * FROM s
  WHERE prev_type IS NULL OR prev_type <> event_type
        OR gap_us > 5000000
)
SELECT event_type,
       COUNT(*) AS n_kept,
       (SELECT COUNT(*) FROM s) - (SELECT COUNT(*) FROM kept)
         AS n_dropped_total
FROM kept GROUP BY event_type
""")
def event_debounce_collapse_q(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = (ev.select("user_id", "event_id", "event_type", "ts")
           .withColumn("prev_type", F.lag("event_type").over(w))
           .withColumn("gap_us",
                       F.unix_micros("ts")
                       - F.lag(F.unix_micros("ts")).over(w))
           .localCheckpoint(eager=False))
    kept = s.filter(F.col("prev_type").isNull()
                    | (F.col("prev_type") != F.col("event_type"))
                    | (F.col("gap_us") > 5_000_000))
    totals = (s.agg(F.count(F.lit(1)).alias("_all"))
              .crossJoin(F.broadcast(kept.agg(F.count(F.lit(1))
                                              .alias("_kept"))))
              .select((F.col("_all") - F.col("_kept"))
                      .alias("n_dropped_total")))
    return (kept.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_kept"))
            .crossJoin(F.broadcast(totals)))


# --- hierarchy share-of-parent ----------------------------------------------
# Region -> nation revenue rollup with each nation's integer-bp share
# of its region: two grouped aggregates joined on the hierarchy key
# (the level-ratio shape OLAP drilldowns need — a windowed share over
# the finer level would recompute the parent sum per row; the
# two-level join computes it once). Broadcast dims, DECIMAL partials,
# integer cents/bp out.

@_q("revenue_share_of_parent", """
WITH rev AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         CAST(FLOOR(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))
                        * (1 - CAST(l.l_discount AS DECIMAL(18,6))))
                    * 100) AS BIGINT) AS nation_cents
  FROM customer c
  JOIN orders o ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY r.r_name, n.n_name
), reg AS (
  SELECT region, SUM(nation_cents) AS region_cents FROM rev
  GROUP BY region
)
SELECT rev.region, rev.nation, rev.nation_cents,
       CAST(reg.region_cents AS BIGINT) AS region_cents,
       CAST(rev.nation_cents * 10000 // reg.region_cents AS BIGINT)
         AS share_bp
FROM rev JOIN reg ON rev.region = reg.region
""")
def revenue_share_of_parent_q(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    revenue = (F.col("l_extendedprice").cast("decimal(18,6)")
               * (F.lit(1) - F.col("l_discount").cast("decimal(18,6)")))
    rev = (c.join(o, c["c_custkey"] == o["o_custkey"])
             .join(li, o["o_orderkey"] == li["l_orderkey"])
             .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
             .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
             .groupBy(F.col("r_name").alias("region"),
                      F.col("n_name").alias("nation"))
             .agg(F.floor(F.sum(revenue) * 100).cast("long")
                  .alias("nation_cents"))
             .localCheckpoint(eager=False))
    reg = (rev.groupBy("region")
           .agg(F.sum("nation_cents").cast("long")
                .alias("region_cents")))
    return (rev.join(F.broadcast(reg), "region")
            .withColumn("share_bp",
                        F.expr("cast(nation_cents * 10000"
                               " div region_cents as bigint)")))


# --- last-touch purchase attribution ----------------------------------------
# For every purchase: the same user's immediately preceding event
# within 30 minutes (lag over the user sequence, window-gated) — the
# last-touch attribution model. Purchases with no qualifying
# predecessor attribute to '(direct)'. One user-keyed window, then a
# 6-row aggregate.

@_q("purchase_attribution_last_touch", """
WITH s AS (
  SELECT user_id, event_id, event_type, ts,
         LAG(event_type) OVER w AS prev_type,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT CASE WHEN prev_type IS NULL OR gap_us > 1800000000
            THEN '(direct)' ELSE prev_type END AS touch,
       COUNT(*) AS n_purchases
FROM s WHERE event_type = 'purchase'
GROUP BY 1
""")
def purchase_attribution_last_touch_q(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = (ev.select("user_id", "event_id", "event_type", "ts")
           .withColumn("prev_type", F.lag("event_type").over(w))
           .withColumn("gap_us",
                       F.unix_micros("ts")
                       - F.lag(F.unix_micros("ts")).over(w)))
    touch = (F.when(F.col("prev_type").isNull()
                    | (F.col("gap_us") > 1_800_000_000), "(direct)")
              .otherwise(F.col("prev_type")))
    return (s.filter(F.col("event_type") == "purchase")
             .groupBy(touch.alias("touch"))
             .agg(F.count(F.lit(1)).alias("n_purchases")))


# --- multi-granularity rollup consistency ------------------------------------
# The materialized-rollup integrity check: month totals derived from
# the DAY aggregate must equal month totals computed directly from the
# facts — the invariant incremental rollup maintenance must keep. The
# cents diff is exactly 0 because values are cent-precise (floor at
# the day level loses nothing); data with sub-cent precision would
# need the rollup to carry unfloored DECIMAL partials instead.

@_q("rollup_consistency_check", """
WITH daily AS (
  SELECT date_trunc('day', ts) AS d, COUNT(*) AS n,
         CAST(FLOOR(SUM(CAST(value AS DECIMAL(18,6))) * 100) AS BIGINT)
           AS cents
  FROM events GROUP BY date_trunc('day', ts)
), m_from_daily AS (
  SELECT date_trunc('month', d) AS m, SUM(n) AS n,
         SUM(cents) AS cents
  FROM daily GROUP BY date_trunc('month', d)
), m_direct AS (
  SELECT date_trunc('month', ts) AS m, COUNT(*) AS n,
         CAST(FLOOR(SUM(CAST(value AS DECIMAL(18,6))) * 100) AS BIGINT)
           AS cents
  FROM events GROUP BY date_trunc('month', ts)
)
SELECT d.m AS month_ts,
       CAST(d.n AS BIGINT) AS n_from_daily,
       CAST(x.n AS BIGINT) AS n_direct,
       CAST(d.cents - x.cents AS BIGINT) AS cents_diff
FROM m_from_daily d JOIN m_direct x ON d.m = x.m
""")
def rollup_consistency_check_q(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    dec = F.sum(F.col("value").cast("decimal(18,6)"))
    daily = (ev.groupBy(F.date_trunc("day", "ts").alias("d"))
               .agg(F.count(F.lit(1)).alias("n"),
                    F.floor(dec * 100).cast("long").alias("cents")))
    m_from_daily = (daily.groupBy(F.date_trunc("month", "d").alias("m"))
                    .agg(F.sum("n").cast("long").alias("n_from_daily"),
                         F.sum("cents").alias("_cd")))
    m_direct = (ev.groupBy(F.date_trunc("month", "ts").alias("m"))
                .agg(F.count(F.lit(1)).cast("long").alias("n_direct"),
                     F.floor(dec * 100).cast("long").alias("_cx")))
    return (m_from_daily.join(m_direct, "m")
            .select(F.col("m").alias("month_ts"), "n_from_daily",
                    "n_direct",
                    (F.col("_cd") - F.col("_cx")).cast("long")
                    .alias("cents_diff")))


# --- business-day shipping latency ------------------------------------------
# Weekend-aware day math in closed form (no calendar table, no UDF):
# business days between order and first ship date = 5*(week diff) +
# weekday-index diff, clamping both endpoints onto the Mon-Fri grid —
# the classic integer formula, identical in both engines because it is
# pure date_part arithmetic. Per-priority mean in integer deci-days.

@_q("business_days_to_ship", """
WITH f AS (
  SELECT o.o_orderpriority AS pri,
         CAST(o.o_orderdate AS DATE) AS od,
         CAST(MIN(l.l_shipdate) AS DATE) AS sd
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
), g AS (
  SELECT pri,
         (CAST(sd - DATE '1970-01-05' AS INTEGER) // 7
          - CAST(od - DATE '1970-01-05' AS INTEGER) // 7) * 5
         + LEAST(((CAST(sd - DATE '1970-01-05' AS INTEGER) % 7 + 7) % 7),
                 4)
         - LEAST(((CAST(od - DATE '1970-01-05' AS INTEGER) % 7 + 7) % 7),
                 4) AS bdays
  FROM f
)
SELECT pri AS o_orderpriority, COUNT(*) AS n_orders,
       CAST(MIN(bdays) AS INTEGER) AS min_bdays,
       CAST(MAX(bdays) AS INTEGER) AS max_bdays,
       CAST(SUM(bdays) * 10 // COUNT(*) AS BIGINT) AS mean_bdays_deci
FROM g GROUP BY pri
""")
def business_days_to_ship_q(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    f = (o.join(li, o["o_orderkey"] == li["l_orderkey"])
          .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
          .agg(F.min("l_shipdate").alias("sd")))
    epoch_mon = F.lit("1970-01-05").cast("date")  # a Monday
    dd = lambda c: F.datediff(F.to_date(c), epoch_mon)  # noqa: E731
    wk = lambda c: F.floor(dd(c) / 7)  # noqa: E731
    dow = lambda c: F.least(((dd(c) % 7) + 7) % 7, F.lit(4))  # noqa: E731
    bdays = ((wk("sd") - wk("o_orderdate")) * 5
             + dow("sd") - dow("o_orderdate"))
    return (f.select(F.col("o_orderpriority").alias("pri"),
                     bdays.alias("bdays"))
            .groupBy(F.col("pri").alias("o_orderpriority"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.min("bdays").cast("int").alias("min_bdays"),
                 F.max("bdays").cast("int").alias("max_bdays"),
                 F.expr("cast(sum(bdays) * 10 div count(1) as bigint)")
                  .alias("mean_bdays_deci")))


# --- hour-of-week seasonality profile ---------------------------------------
# The 24x7 BI heatmap reduced to its decision form: per event type,
# total volume, the peak (dow, hour) cell with a deterministic
# (count desc, dow, hour) tiebreak, and the peak share in bp. dow
# follows ISO (Mon=1) via a from-Monday-epoch formula identical in
# both engines (DuckDB isodow == the formula; Spark dayofweek is
# Sun=1, so the formula avoids the builtin).

@_q("hourweek_seasonality", """
WITH c AS (
  SELECT event_type,
         (CAST(CAST(date_trunc('day', ts) AS DATE)
               - DATE '1970-01-05' AS INTEGER) % 7 + 7) % 7 + 1 AS dow,
         CAST(date_part('hour', ts) AS INTEGER) AS hr,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2, 3
), t AS (
  SELECT event_type, SUM(n) AS total FROM c GROUP BY event_type
), best AS (
  SELECT event_type, dow, hr, n FROM (
    SELECT event_type, dow, hr, n,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY n DESC, dow, hr) AS rn
    FROM c) WHERE rn = 1
)
SELECT b.event_type, CAST(b.dow AS INTEGER) AS peak_dow,
       b.hr AS peak_hour, CAST(b.n AS BIGINT) AS peak_n,
       CAST(t.total AS BIGINT) AS total_n,
       CAST(b.n * 10000 // t.total AS BIGINT) AS peak_share_bp
FROM best b JOIN t ON b.event_type = t.event_type
""")
def hourweek_seasonality_q(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    epoch_mon = F.lit("1970-01-05").cast("date")
    dow = ((F.datediff(F.to_date(F.date_trunc("day", "ts")), epoch_mon)
            % 7 + 7) % 7 + 1).cast("int")
    c = (ev.groupBy("event_type", dow.alias("dow"),
                    F.hour("ts").cast("int").alias("hr"))
           .agg(F.count(F.lit(1)).alias("n"))
           .localCheckpoint(eager=False))
    t = c.groupBy("event_type").agg(F.sum("n").cast("long")
                                    .alias("total_n"))
    w = (Window.partitionBy("event_type")
         .orderBy(F.desc("n"), "dow", "hr"))
    best = (c.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
             .select("event_type", F.col("dow").alias("peak_dow"),
                     F.col("hr").alias("peak_hour"),
                     F.col("n").cast("long").alias("peak_n")))
    return (best.join(F.broadcast(t), "event_type")
            .withColumn("peak_share_bp",
                        F.expr("cast(peak_n * 10000 div total_n"
                               " as bigint)")))


# --- part co-purchase pairs (market basket through the fact) -----------------
# Top-20 part pairs appearing in the same order: the lineitem
# self-join keys on the order (per-order group bounded by order size —
# TPC-H orders average ~4 lines, so the pair blowup is quadratic in a
# SMALL constant, unlike a shingle hub), pair counts map-combine, and
# the deterministic top-k compiles to TakeOrderedAndProject.

@_q("part_copurchase_topk", """
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         COUNT(*) AS n_orders
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT part_a, part_b, n_orders FROM pairs
ORDER BY n_orders DESC, part_a, part_b LIMIT 20
""")
def part_copurchase_topk_q(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    li = (load(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_partkey").distinct()
          .localCheckpoint(eager=False))
    pairs = (li.alias("a")
             .join(li.alias("b").hint("shuffle_hash"),
                   (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                   & (F.col("a.l_partkey") < F.col("b.l_partkey")))
             .groupBy(F.col("a.l_partkey").alias("part_a"),
                      F.col("b.l_partkey").alias("part_b"))
             .agg(F.count(F.lit(1)).alias("n_orders")))
    return pairs.orderBy(F.desc("n_orders"), "part_a", "part_b").limit(20)


# --- ingestion completeness monitor -----------------------------------------
# Data-ops check: per day, which of the 24 expected hour slots
# actually landed (observed distinct hours vs the full grid), plus the
# missing-hour count — the freshness/backfill dashboard cell. The
# expected grid is generated, not assumed, so silent whole-hour gaps
# are counted rather than invisible.

@_q("ingestion_completeness_daily", """
WITH obs AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(date_part('hour', ts) AS INTEGER) AS hr,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
), daily AS (
  SELECT d, COUNT(*) AS hours_observed, CAST(SUM(n) AS BIGINT) AS n_events
  FROM obs GROUP BY d
)
SELECT CAST(d AS VARCHAR) AS day,
       CAST(hours_observed AS INTEGER) AS hours_observed,
       CAST(24 - hours_observed AS INTEGER) AS hours_missing,
       n_events
FROM daily
""")
def ingestion_completeness_daily_q(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    # day serialized as the ISO string: DATE round-trips differently
    # through pandas per engine (date objects vs datetime64).
    obs = (ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"),
                      F.hour("ts").cast("int").alias("hr"))
             .agg(F.count(F.lit(1)).alias("n")))
    return (obs.groupBy("day")
            .agg(F.count(F.lit(1)).cast("int").alias("hours_observed"),
                 F.sum("n").cast("long").alias("n_events"))
            .withColumn("hours_missing",
                        (F.lit(24) - F.col("hours_observed"))
                        .cast("int"))
            .select("day", "hours_observed", "hours_missing",
                    "n_events"))


# --- ABC (Pareto) part classification ---------------------------------------
# Parts ranked by revenue; cumulative share in bp over the ranked list
# classifies A (first 80%), B (to 95%), C (tail) — the inventory
# classic. The running sum runs over the PART-level aggregate
# (vocabulary-sized, not the fact table); class cuts are integer bp on
# the cumulative share with deterministic (revenue desc, partkey)
# order.

@_q("abc_part_classification", """
WITH pr AS (
  SELECT l_partkey,
         CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                        * (1 - CAST(l_discount AS DECIMAL(18,6))))
                    * 100) AS BIGINT) AS cents
  FROM lineitem GROUP BY l_partkey
), t AS (SELECT SUM(cents) AS total FROM pr),
r AS (
  SELECT l_partkey, cents,
         SUM(cents) OVER (ORDER BY cents DESC, l_partkey
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM pr
), cls AS (
  SELECT l_partkey, cents,
         CASE WHEN (cum - cents) * 10000 < t.total * 8000 THEN 'A'
              WHEN (cum - cents) * 10000 < t.total * 9500 THEN 'B'
              ELSE 'C' END AS abc
  FROM r, t
)
SELECT abc, COUNT(*) AS n_parts,
       CAST(SUM(cents) AS BIGINT) AS class_cents
FROM cls GROUP BY abc
""")
def abc_part_classification_q(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice").cast("decimal(18,6)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(18,6)")))
    pr = (li.groupBy("l_partkey")
            .agg(F.floor(F.sum(rev) * 100).cast("long").alias("cents"))
            .localCheckpoint(eager=False))
    t = pr.agg(F.sum("cents").alias("total"))
    # part-level table is vocabulary-sized; the unpartitioned running
    # sum is the small-side plan (dense_row_number otherwise).
    w = (Window.orderBy(F.desc("cents"), "l_partkey")
         .rowsBetween(Window.unboundedPreceding, 0))
    r = pr.withColumn("cum", F.sum("cents").over(w))
    cls = (r.crossJoin(F.broadcast(t))
           .withColumn("abc",
                       F.when((F.col("cum") - F.col("cents")) * 10000
                              < F.col("total") * 8000, "A")
                        .when((F.col("cum") - F.col("cents")) * 10000
                              < F.col("total") * 9500, "B")
                        .otherwise("C")))
    return (cls.groupBy("abc")
            .agg(F.count(F.lit(1)).alias("n_parts"),
                 F.sum("cents").cast("long").alias("class_cents")))
