"""Custom join operators Spark lacks as primitives: as-of join, range
join, and a salted skew-aware aggregation.

The reference has no join surface beyond its CDC left join
(SURVEY.md §2.C — /root/reference/ETL/CSV_Batch_Processing.py:150-152),
so these are beyond-reference extensions, built the Spark-first way:
compositions of existing DataFrame ops (union + window, expanded
equi-keys) rather than imperative per-partition code.

Scale design notes live on each function; the common theme is turning a
non-equi predicate into something that shuffles by a bounded equi-key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyspark_etl_project_spark.functions.reserved import require_free_columns


def asof_join(left: DataFrame, right: DataFrame,
              on: str, left_ts: str, right_ts: str,
              right_cols: list[str],
              direction: str = "backward") -> DataFrame:
    """For each left row, attach the single right row with the greatest
    ``right_ts`` <= ``left_ts`` (direction='backward'; 'forward' takes
    the least >=), matching on the equi-key ``on``. Right-side ties on
    the timestamp resolve to the row ordered last (backward) / first
    (forward) by the remaining ``right_cols`` order — callers should
    pass a unique tiebreaker column first.

    Implementation: union the two sides tagged, ONE window per key
    ordered by (ts, side) carrying the last seen right row forward as
    a single STRUCT (``last(struct, ignorenulls=True)``), keep left
    rows. The struct is load-bearing, not just a plan nicety: carrying
    each payload column through its own ignorenulls window would let a
    NULL cell in the matching right row fall back to an OLDER right
    row's value for that one column — emitting a composite row that
    never existed. The struct is non-null exactly when the row is a
    right row, so the whole matched row travels (or doesn't) together,
    NULL cells included. Exactly ONE shuffle on the key — same cost as
    a regular equi-join, no time-bucketing approximation, no cross
    product. Skewed keys follow the same AQE/salting remedies as any
    single-key shuffle.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction}")
    require_free_columns(
        left, ["_ts", "_side", "_m", *[f"_r_{c}" for c in right_cols]],
        "asof_join")

    lt, rt = F.col(left_ts), F.col(right_ts)
    l_tagged = left.withColumn("_ts", lt.cast("timestamp")) \
                   .withColumn("_side", F.lit(1))
    for c in right_cols:
        l_tagged = l_tagged.withColumn(f"_r_{c}", F.lit(None).cast(dict(right.dtypes)[c]))
    r_tagged = right.select(
        F.col(on),
        rt.cast("timestamp").alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"_r_{c}") for c in right_cols])
    for c in left.columns:
        if c not in (on,):
            r_tagged = r_tagged.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    unioned = l_tagged.unionByName(r_tagged)

    # Right rows (side 0) sort before left rows at equal ts -> a right
    # row AT the left timestamp matches. The first right payload column
    # is the deterministic tiebreaker among right rows with equal ts.
    tiebreak = F.col(f"_r_{right_cols[0]}").asc_nulls_first()
    if direction == "backward":
        w = (Window.partitionBy(on)
             .orderBy(F.col("_ts").asc(), F.col("_side").asc(), tiebreak)
             .rowsBetween(Window.unboundedPreceding, 0))
    else:
        w = (Window.partitionBy(on)
             .orderBy(F.col("_ts").desc(), F.col("_side").asc(), tiebreak)
             .rowsBetween(Window.unboundedPreceding, 0))

    payload = F.when(
        F.col("_side") == 0,
        F.struct(*[F.col(f"_r_{c}").alias(c) for c in right_cols]))
    carried = unioned.withColumn(
        "_m", F.last(payload, ignorenulls=True).over(w))
    out = carried.filter(F.col("_side") == 1)
    keep = [F.col(c) for c in left.columns]
    keep += [F.col("_m")[c].alias(c) for c in right_cols]
    return out.select(*keep)


def range_join(left: DataFrame, intervals: DataFrame,
               point: str, start: str, end: str,
               bucket_width: int,
               how: str = "inner") -> DataFrame:
    """Join points to [start, end) intervals (both integer-like) without
    a cross product: each interval is exploded to the buckets it spans
    (``sequence`` over floor-divided bounds), points bucket by
    floor-division, and the join runs as an EQUI-join on the bucket with
    the range predicate as a cheap residual filter.

    Scale: shuffle width = points + sum(interval_span/bucket_width)
    instead of |points| x |intervals|. Pick bucket_width near the median
    interval span so each interval lands in O(1) buckets. This is the
    standard bucketed range-join; Databricks' RANGE_JOIN hint does the
    same rewrite inside Catalyst.
    """
    if how != "inner":
        raise ValueError("range_join supports inner joins; outer variants "
                         "need null-preserving residual handling")
    require_free_columns(left, ["_bucket"], "range_join")
    require_free_columns(intervals, ["_bucket"], "range_join")
    p, s, e = F.col(point), F.col(start), F.col(end)
    # Integral `div`, not floor(x / w): float division silently loses
    # precision past 2^53 — real ids/timestamps at corpus scale exceed
    # that. Domain: non-negative values (div truncates toward zero).
    iv = intervals.withColumn(
        "_bucket",
        F.explode(F.sequence(_idiv(s, bucket_width), _idiv(e - 1, bucket_width))))
    pts = left.withColumn("_bucket", _idiv(p, bucket_width))
    joined = pts.join(iv, on="_bucket", how="inner") \
                .filter((p >= s) & (p < e))
    return joined.drop("_bucket")


def _idiv(col: Column, divisor: int) -> Column:
    """Exact integral division for long-range values: decimal division
    + floor stays exact where double division would round past 2^53."""
    return (F.floor(col.cast("decimal(38,0)") / F.lit(divisor))
            .cast("long"))


def salted_agg(df: DataFrame, key: str, aggs: list[tuple[str, str, str]],
               num_salts: int = 16) -> DataFrame:
    """Two-phase aggregation for skewed keys: shuffle once by
    (key, salt) — splitting a hot key across ``num_salts`` reducers —
    then merge the partials with a second, tiny shuffle on the key.

    ``aggs`` rows are (col, func, out_name) with func in
    {sum, count, min, max} — the re-aggregable (algebraic) functions;
    count merges by summing partial counts. Spark's map-side partial
    aggregation already handles mild skew; salting is for the case
    where even one reducer's worth of a single key's partials is too
    big — the classic power-law key distribution of a web-scale corpus.
    """
    merge_fn = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    first_fn = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}
    for _c, f, _o in aggs:
        if f not in merge_fn:
            raise ValueError(f"non-algebraic agg {f!r} cannot be salted")

    # DETERMINISTIC salt from full row content (pmod keeps it in
    # [0, num_salts)). A nondeterministic salt (random / derived from
    # monotonically_increasing_id) re-rolls on task retry, so rows
    # recomputed after a shuffle-fetch failure land in different
    # (key, salt) reduce partitions than the copies surviving reducers
    # already fetched — silent double-count/loss (the SPARK-23207
    # repartition class; Spark does not mark such a stage
    # indeterminate). Content-hashing spreads a hot key's varied rows;
    # only literal full-duplicate rows share a salt.
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]),
                        F.lit(num_salts)))
    partial = salted.groupBy(key, "_salt").agg(
        *[first_fn[f](F.col(c)).alias(o) for c, f, o in aggs])
    return partial.groupBy(key).agg(
        *[merge_fn[f](F.col(o)).alias(o) for _c, f, o in aggs])


def salted_join(big: DataFrame, small: DataFrame, key: str,
                num_salts: int = 16, how: str = "inner") -> DataFrame:
    """Skew-safe equi-join for when the small side is too big to
    broadcast and the big side has hot keys: salt the big side's key
    with a per-row bucket, replicate every small-side row across all
    ``num_salts`` buckets, join on (key, salt). A hot key's rows spread
    over num_salts reducers instead of one.

    Cost model: small side shuffles num_salts× its size — worth it when
    hot-key reducer time dominates; for genuinely small dims use
    F.broadcast instead (zero shuffle). AQE's skew-join split handles
    mild skew without this; salting is the deterministic heavy-duty
    form that also works for stragglers AQE can't re-split (e.g. a
    single row group).
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left")
    require_free_columns(big, ["_salt"], "salted_join")
    require_free_columns(small, ["_salt"], "salted_join")
    # Deterministic content-derived salt — see salted_agg for why a
    # retry-unstable salt silently duplicates/drops rows post-shuffle.
    salted_big = big.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]),
               F.lit(num_salts)).cast("int"))
    replicated = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(num_salts)])))
    out = salted_big.join(replicated, on=[key, "_salt"], how=how)
    return out.drop("_salt")


def compact_small_files(spark, path: str, target_files: int) -> int:
    """Rewrite a parquet directory into ``target_files`` files — the
    maintenance pass a streaming foreachBatch sink needs (every
    micro-batch otherwise adds small files until scan task count, not
    data volume, dominates job time). The swap is fs.staged_rewrite:
    read fully, write aside, swap — never overwrite the input in place
    while reading it. Returns the new file count.

    Path operations go through the Hadoop FileSystem API, so the same
    code works on any supported filesystem (local, HDFS, s3a/gs/abfs
    object stores) — not just the local FS."""
    # The read path is glob-escaped: Spark glob-expands reader paths,
    # so a dir containing { } [ ] * ? (e.g. a bucket dir under a
    # metachar-bearing index root) would mis-resolve. Write paths and
    # the Hadoop rename Paths are literal APIs — no escaping.
    from pyspark_etl_project_spark.operators.fs import (
        escape_glob, hadoop_fs, staged_rewrite)

    # mergeSchema: a foreachBatch sink dir is append-accumulated, so
    # files can differ in vintage (a later deploy added a column); the
    # swap REPLACES the input, so a single-footer read here would
    # silently delete the late-added column (r13 vacuum/merge class).
    staged_rewrite(spark, path, lambda: (
        spark.read.option("mergeSchema", "true")
        .parquet(escape_glob(path)).repartition(target_files)))

    _, fs, jpath = hadoop_fs(spark, path)
    n = 0
    it = fs.listStatus(jpath)
    for i in range(len(it)):
        name = it[i].getPath().getName()
        if name.startswith("part-") and name.endswith(".parquet"):
            n += 1
    return n


def build_bloom(keys: DataFrame, key: str, num_bits: int = 1 << 16,
                num_hashes: int = 3) -> list[int]:
    """Distributed Bloom-filter build over a key column: every key sets
    ``num_hashes`` bit positions (xxhash64 seeded 0..h-1, mod num_bits);
    positions fold into 64-bit words with a bit_or aggregation. Only the
    finished word table crosses to the driver — num_bits/64 longs (8 KiB
    at the default 64 Ki bits), never the keys themselves, so the build
    side can be arbitrarily large.

    Returns the dense word list (length num_bits//64) ready to embed as
    a literal array — the same role Spark's runtime row-level bloom
    filter plays, but available to hand-built plans and stable across
    engines (deterministic xxhash64, no sampling).
    """
    if num_bits % 64:
        raise ValueError("num_bits must be a multiple of 64")
    pos = keys.select(F.explode(F.array(*[
        F.pmod(F.xxhash64(F.col(key), F.lit(s)), F.lit(num_bits))
        for s in range(num_hashes)])).alias("_p"))
    words = (pos
             .select(F.floor(F.col("_p") / 64).cast("int").alias("_w"),
                     F.expr("shiftleft(CAST(1 AS BIGINT), "
                            "CAST(_p % 64 AS INT))").alias("_m"))
             .groupBy("_w").agg(F.bit_or("_m").alias("_mask"))
             .collect())
    dense = [0] * (num_bits // 64)
    for r in words:
        dense[r["_w"]] = r["_mask"]
    return dense


def bloom_might_contain(col: Column | str, bloom_words: list[int],
                        num_bits: int, num_hashes: int = 3) -> Column:
    """Membership-test column against a built bloom word list. False
    positives possible (standard Bloom semantics), false negatives
    impossible — callers that need exactness follow with the real join;
    the filter's job is to drop the non-matching bulk BEFORE the
    shuffle."""
    c = F.col(col) if isinstance(col, str) else col
    arr = F.array(*[F.lit(w).cast("long") for w in bloom_words])
    cond = F.lit(True)
    for s in range(num_hashes):
        p = F.pmod(F.xxhash64(c, F.lit(s)), F.lit(num_bits))
        word = F.element_at(arr, F.floor(p / 64).cast("int") + 1)
        cond = cond & (F.getbit(word, F.pmod(p, 64).cast("int")) == 1)
    return cond


def _bloom_test_on_col(key_col: Column, bloom_col: Column,
                       num_bits: int, num_hashes: int) -> Column:
    """Membership test where the bloom words live in an array COLUMN
    (broadcast-joined), not a literal: a num_bits/64-element literal
    array inflates the expression tree past the codegen limit (measured:
    a 1024-literal array disabled whole-stage codegen and tripled the
    query time), while a column reference keeps the plan small."""
    cond = F.lit(True)
    for s in range(num_hashes):
        p = F.pmod(F.xxhash64(key_col, F.lit(s)), F.lit(num_bits))
        word = F.element_at(bloom_col, F.floor(p / 64).cast("int") + 1)
        cond = cond & (F.getbit(word, F.pmod(p, 64).cast("int")) == 1)
    return cond


def bloom_pruned_join(big: DataFrame, small: DataFrame, key: str,
                      num_bits: int = 1 << 16, num_hashes: int = 3,
                      how: str = "inner") -> DataFrame:
    """Equi-join where the big side is pre-filtered by a Bloom filter of
    the small side's keys before it ever shuffles — the manual form of
    runtime row-level filtering for when the small side is too big to
    broadcast as a hash relation but its key SET compresses into a few
    KiB of bloom words.

    Exactness: bloom false positives survive the prefilter but are
    eliminated by the real join that follows, so the result equals the
    plain join for inner/left_semi ("how" is restricted to those — an
    outer join must keep non-matching big rows, which the prefilter
    would drop).

    Scale shape: at a 1000-executor 100 TB scan the win is shuffle
    bytes — a selective small side (e.g. 0.1% of keys) turns a full
    big-side shuffle into a 0.1%+fp shuffle for the cost of one
    map-only scan probing an 8 KiB bloom. The words travel as a one-row
    broadcast DataFrame (a literal array this size would blow up the
    expression tree — see _bloom_test_on_col), and the bloom build
    itself shuffles only num_bits/64 words.
    """
    if how not in ("inner", "left_semi"):
        raise ValueError("bloom_pruned_join supports inner/left_semi")
    words = build_bloom(small.select(key), key, num_bits, num_hashes)
    spark = big.sparkSession
    from pyspark_etl_project_spark.functions.seedframe import seed_df
    bloom_df = seed_df(spark, [(words,)], "_bloom array<long>")
    pruned = (big.join(F.broadcast(bloom_df))
              .filter(_bloom_test_on_col(F.col(key), F.col("_bloom"),
                                         num_bits, num_hashes))
              .drop("_bloom"))
    return pruned.join(small, on=key, how=how)
