"""SCD Type-2 merge — the engine's one genuinely custom operator.

Replaces the reference's driver-side row loop
(/root/reference/ETL/CSV_Batch_Processing.py:247-334: toPandas() collect,
then per-row SQLAlchemy INSERT/UPDATE) with a pure-DataFrame rewrite:

    history   = every mart row, in one scan; an active row whose key is
                being updated -> ACTIVE_FLAG=0, END_DATE=run_ts, every
                other row unchanged
    arrivals  = routed INSERT/UPDATE rows
                -> ACTIVE_FLAG=1, START_DATE=run_ts, END_DATE=2099-12-31
    result    = history UNION arrivals

Invariants (FIXTURES.md §5): exactly one ACTIVE_FLAG=1 row per
(SOURCE_ID, SOURCE_SYSTEM_IDENTIFIER); expired END_DATE equals the
successor's START_DATE (reference CSV:311-324 uses the same "now" for
both).

Scale notes:
- run_ts is a single per-run constant (H9) -> deterministic and identical
  across executors (the reference evaluated datetime.now() driver-side
  once, same semantics).
- The expiry match is one left join of the mart to the distinct update
  keys: a broadcast join when the arrival batch is small (typical
  incremental load), else a shuffled join on the natural key. The mart
  is scanned once.
- The mart is stored partitionBy(SOURCE_ID, MART_BUCKET) where the
  bucket is a deterministic hash of the natural key: dynamic partition
  overwrite plus a touched-keys prune means a load rewrites only the
  buckets its arriving keys hash to, not a whole source (~1/3 of a
  3-source mart) per load.
- Surrogate ids: default is unique-but-sparse (monotonically_increasing_id
  + offset) which needs no global sort; ``dense_ids=True`` gives
  autoincrement-faithful dense ids via a scalable two-phase global
  row-number (range repartition -> per-partition local index + cumulative
  offsets) — never a single-partition window, so it survives a 100x
  scale-up. Cost: one extra pass to count rows per range partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyspark_etl_project_spark.config import SCD2_OPEN_END_DATE

KEY = "SOURCE_SYSTEM_IDENTIFIER"
# scd2_merge's reserved flag: set on mart rows whose key is arriving.
_HIT = "_scd2_hit"


def scd2_merge(mart: DataFrame,
               arrivals: DataFrame,
               run_ts: str,
               key: str = KEY,
               surrogate_col: str = "CSD_ID",
               dense_ids: bool = False,
               broadcast_keys: bool = True,
               cache_arrivals: bool = True,
               surrogate_offset: int | None = None,
               pinned: list | None = None) -> DataFrame:
    """Merge routed arrivals (must carry mart columns minus the surrogate,
    plus nothing else) into the SCD2 mart. ``run_ts`` is an ISO timestamp
    string used for both expiry and effective stamps.

    ``cache_arrivals`` persists the arrival batch (memory-and-disk):
    it is consumed twice — once projected to its key set for the
    expiry match, once in full as the fresh rows — and the
    batch is the small side of an incremental merge (the mart is the big
    side and is never cached), so caching trades a little executor
    memory for not running the upstream transform chain twice.

    ``surrogate_offset`` is the persisted high-water surrogate id (see
    operators/watermark.py save_surrogate_hwm): pass it to skip the
    full-mart MAX(surrogate) scan — at 100 TB that scan is a whole
    column pass per incremental batch. When None, falls back to the agg
    (correct but O(mart)).

    ``pinned``: pass a list to receive every DataFrame this merge
    persists (the cached arrivals, dense_row_number's range exchange).
    A caller that merges repeatedly — one merge per micro-batch in
    foreach_batch_scd2 — must unpersist them after materializing the
    result, or each batch pins another plan in the cache manager for
    the life of the session.
    """
    run_ts_col = F.lit(run_ts).cast("timestamp")
    open_end = F.lit(SCD2_OPEN_END_DATE).cast("timestamp")

    if cache_arrivals:
        from pyspark.storagelevel import StorageLevel
        arrivals = arrivals.persist(StorageLevel.MEMORY_AND_DISK)
        if pinned is not None:
            pinned.append(arrivals)

    arriving_keys = (arrivals.select(key).distinct()
                     .withColumn(_HIT, F.lit(True)))
    keys_join = F.broadcast(arriving_keys) if broadcast_keys else arriving_keys

    # One pass over the mart: the left join flags rows whose key is
    # arriving (keys are distinct, so no row multiplies) and the
    # projection expires the flagged active ones. Null-safe: a NULL
    # ACTIVE_FLAG (legacy load, schema-evolved read) is not `<=> 1`, so
    # the row passes through verbatim instead of being expired.
    expire = F.col("ACTIVE_FLAG").eqNullSafe(1) & F.col(_HIT).isNotNull()
    stamped = {"ACTIVE_FLAG": F.lit(0), "END_DATE": run_ts_col}
    history = mart.join(keys_join, on=key, how="left").select(
        [F.when(expire, stamped[c]).otherwise(F.col(c)).alias(c)
         if c in stamped else F.col(c) for c in mart.columns])

    next_id = (surrogate_offset if surrogate_offset is not None
               else _surrogate_offset(mart, surrogate_col))
    fresh = (arrivals
             .withColumn("ACTIVE_FLAG", F.lit(1))
             .withColumn("START_DATE", run_ts_col)
             .withColumn("END_DATE", open_end))
    fresh = _assign_surrogates(fresh, surrogate_col, next_id, key,
                               dense_ids, pinned=pinned)

    return history.unionByName(fresh.select(mart.columns))


MART_BUCKET_COL = "MART_BUCKET"


def mart_bucket(key: str = KEY, num_buckets: int = 16):
    """Deterministic hash bucket of the natural key (xxhash64, fixed
    seed): a given key always lands in the same (SOURCE_ID, bucket)
    partition, so an incremental load touches exactly the buckets its
    arriving keys hash to."""
    return F.pmod(F.xxhash64(F.col(key)), F.lit(num_buckets)).cast("int")


def _layout_error(path: str, detail: str) -> ValueError:
    """The one refusal for a bucketed directory — the SCD2 mart's
    MART_BUCKET dirs or the streaming band index's DOC_BUCKET dirs —
    that its writer did not lay out: writes replace or append only the
    bucket dirs they produce, and reads and dedup probes address only
    those dirs, so foreign files (or bucket ids from a changed
    num_buckets) would stay in place and duplicate rows on read or
    re-append already-indexed docs."""
    return ValueError(
        f"{path} is not in the bucketed layout ({detail}); a write "
        "beside those files would leave them in place and duplicate "
        "rows. Rebuild it in the bucketed layout first.")


def _bucket_dir_ids(spark, path: str, partition_col: str | None,
                    bucket_col: str = MART_BUCKET_COL) -> list[int]:
    """The bucket ids on disk at ``path``, after checking that the
    directory holds only the bucketed layout: ``<bucket_col>=<id>``
    dirs, under ``<partition_col>=<value>`` dirs when a partition
    column is set. An absent or empty path is empty. Uses the Hadoop
    FileSystem API so the check works on HDFS/S3, not just local
    paths."""
    from pyspark_etl_project_spark.operators.fs import hadoop_fs

    _, fs, hpath = hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return []

    # Hidden entries follow Spark's own convention: BOTH '_' and '.'
    # prefixes — a stray _SUCCESS, .DS_Store or editor dot-temp must
    # not raise the layout refusal. One (name, is_dir, path) tuple per
    # entry keeps py4j calls per entry constant.
    def visible(p):
        out = []
        for st in fs.listStatus(p):
            jp = st.getPath()
            name = jp.getName()
            if not name.startswith(("_", ".")):
                out.append((name, st.isDirectory(), jp))
        return out

    def strays(entries, col, digits=False):
        return [n for n, is_dir, _ in entries
                if not (is_dir and n.startswith(col + "=")
                        and (n[len(col) + 1:].isdigit() or not digits))]

    entries = visible(hpath)
    if partition_col is not None:
        bad = strays(entries, partition_col)
        if bad:
            raise _layout_error(
                path, f"expected {partition_col}=<value> dirs, found "
                f"{bad[:4]}")
        entries = [c for _, _, jp in entries for c in visible(jp)]
    # A non-numeric bucket suffix (a NULL-bucket
    # __HIVE_DEFAULT_PARTITION__ dir, or a crashed compaction's
    # <bucket>_precompact / _compacting staging dir) is foreign too.
    bad = strays(entries, bucket_col, digits=True)
    if bad:
        raise _layout_error(
            path, f"expected {bucket_col}=<id> dirs, found {bad[:4]}")
    return [int(n.split("=", 1)[1]) for n, _, _ in entries]


def _check_bucket_layout(spark, path: str, partition_col: str | None,
                         num_buckets: int,
                         bucket_col: str = MART_BUCKET_COL) -> set[int]:
    """Fail fast, before any data moves, when the on-disk layout at
    ``path`` is not the one this write would produce: entries outside
    the bucketed layout (_bucket_dir_ids), or bucket ids at or above
    ``num_buckets`` (num_buckets must stay constant for a path).
    Returns the set of bucket ids on disk, so a caller that tracks
    existing buckets needs no second listing."""
    ids = set(_bucket_dir_ids(spark, path, partition_col, bucket_col))
    stale = sorted(b for b in ids if b >= num_buckets)
    if stale:
        raise _layout_error(
            path, f"bucket ids {stale[:4]} are outside "
            f"num_buckets={num_buckets}; num_buckets must stay constant "
            "for a path")
    return ids


def write_mart(mart: DataFrame, path: str,
               partition_col: str | None = "SOURCE_ID",
               key: str = KEY,
               num_buckets: int = 16,
               touched_keys: DataFrame | None = None,
               source_id: int | None = None,
               materialize_first: bool = False,
               check_layout: bool = True) -> None:
    """Write the mart with DYNAMIC partition overwrite, partitioned by
    (``partition_col``, hash-bucket of the natural ``key``).

    The second dimension is the 100 TB fix for a ~3-source mart: with
    SOURCE_ID alone, one feed's dynamic overwrite rewrites ~1/3 of the
    mart every load. Bucketing the key means a load rewrites only the
    (source, bucket) partitions its keys actually hash to — pass
    ``touched_keys`` (a one-column frame of this load's arriving natural
    keys, e.g. the routed batch's distinct SSI) and the write is pruned
    to those buckets: rows in untouched buckets are unchanged by the
    SCD2 merge (expired + fresh rows all carry arriving keys), so
    skipping them is lossless. ``source_id`` additionally restricts the
    write to one feed's partitions (one feed never rewrites another).
    ``num_buckets`` must stay constant for a given mart path; size it so
    one bucket ≈ a few GB at the target scale (1024+ at 100 TB). A
    pre-write layout probe (_check_bucket_layout) enforces this: a
    directory not in this layout, or on-disk bucket ids at or above
    ``num_buckets``, raises ValueError instead of silently mixing
    layouts (dynamic overwrite would leave the old files in place and
    double rows on read).
    ``partition_col=None`` drops the source dimension (single-feed
    marts, e.g. a streaming user mart) — buckets alone partition.
    The outgoing rows are clustered on (``partition_col``, bucket) by a
    rebalance hint, so each bucket dir gets one file (AQE sizes and
    coalesces the shuffle partitions) instead of one file per task
    that holds any of its rows.
    ``materialize_first`` no longer does anything; it stays for callers
    that pass it. A plan that READS the path it overwrites needs no
    materialization: dynamic partition overwrite writes every task's
    output to a ``.spark-staging-*`` dir and replaces the partition
    dirs only at job commit, after every task (and so every read of
    the old files) has finished. Nor is the input persisted here: at
    commit Spark re-plans every cached plan that reads the written
    path.
    ``check_layout=False`` skips the pre-write layout probe — ONLY for
    a caller that already verified the layout this run and owns the
    mart for the run's duration (the foreachBatch merge loop checks
    once at stream start; re-listing every partition dir per
    micro-batch is O(sources × buckets) metadata that dwarfs the
    pruned write at the documented 1024+ bucket scale).
    """
    spark = mart.sparkSession
    if check_layout:
        _check_bucket_layout(spark, path, partition_col, num_buckets)
    parts = ([partition_col] if partition_col is not None else []) \
        + [MART_BUCKET_COL]
    out = mart.withColumn(MART_BUCKET_COL, mart_bucket(key, num_buckets))
    if touched_keys is not None:
        buckets = (touched_keys
                   .select(mart_bucket(touched_keys.columns[0], num_buckets)
                           .alias(MART_BUCKET_COL))
                   .distinct())
        out = out.join(F.broadcast(buckets), MART_BUCKET_COL, "left_semi")
    if source_id is not None and partition_col is not None:
        out = out.filter(F.col(partition_col) == source_id)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (out.hint("rebalance", *parts).write.mode("overwrite")
            .partitionBy(*parts)
            .parquet(path))
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def read_mart(spark, path: str, merge_schema: bool = False) -> DataFrame:
    """Read the mart back in merge shape: the physical bucket column is
    layout, not data (derivable from the key), so it is dropped —
    scd2_merge's final select uses mart.columns and arrival batches
    don't carry it. The path is glob-escaped (reader paths are
    glob-expanded by Spark; escaping is the identity for paths without
    metacharacters).

    ``merge_schema``: on a schema-evolved mart (bucket dirs of
    differing vintage — a later load added a column) the default
    single-footer read surfaces whichever file's schema Spark probes.
    That is fine for NON-destructive reads (worst case a query misses
    a late column, visibly), but any read that FEEDS a rewrite must
    pass True: the merged-footer schema is the only correct basis for
    overwriting partitions (scd2_merge_batch does; the vacuum pass has
    its own pinned-schema read)."""
    from pyspark_etl_project_spark.operators.fs import escape_glob

    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    df = reader.parquet(escape_glob(path))
    if MART_BUCKET_COL in df.columns:
        df = df.drop(MART_BUCKET_COL)
    return df


def read_mart_touched(spark, path: str, bucket_ids: list[int],
                      partition_col: str | None = None,
                      merge_schema: bool = False) -> DataFrame:
    """Read ONLY the mart slice living in ``bucket_ids`` — the
    per-micro-batch read of the foreachBatch merge loop.
    ``merge_schema`` has read_mart's contract: the merge loop passes
    True because this read FEEDS the bucket rewrite — on an evolved
    mart whose touched buckets have differing vintage, a single-footer
    read could surface the old schema and the overwrite would delete
    the late-added column from every touched bucket (footer merging
    here stays O(touched files), matching this function's listing
    contract). A plain
    read.parquet(path) + bucket filter still LISTS every partition dir
    at planning — O(num_buckets [× sources]) metadata per micro-batch,
    the dominant cost once the data scan is pruned (measured 8× at
    100× mart scale in the amplification probe). basePath + explicit
    subdirs keeps listing O(touched); partition columns are still
    reconstructed relative to basePath.

    Layout awareness: write_mart nests buckets UNDER the partition
    column (``<path>/<pcol>=x/MART_BUCKET=b``), so with
    ``partition_col`` set the glob matches one level down — a dir
    probe at ``<path>/MART_BUCKET=b`` would never match and every
    batch would silently fall back to the full listing this function
    exists to avoid. ONE globStatus with a ``{b1,b2,...}`` alternation
    covers every touched bucket in a single py4j round trip (a
    per-bucket exists()/glob costs one driver RPC each — pure
    per-batch latency at the documented 1024+ bucket scale). Buckets
    no key has ever hashed to have no dir yet — absences simply don't
    match; when NO touched dir exists the full-path read (one listing)
    is used purely for the mart SCHEMA, with the bucket filter keeping
    the scan itself empty. That fallback first runs the write-side
    guard's layout check (_bucket_dir_ids), so a directory write_mart
    did not lay out raises the same refusal instead of letting the
    filter die on an unresolvable MART_BUCKET column.

    The BASE path is glob-escaped before embedding in the pattern (and
    the matched dirs re-escaped before the read — Spark's path
    resolution glob-expands too): a mart path containing glob
    metacharacters ({ } [ ] * ?) would otherwise mis-match or silently
    fall back to the full listing this function exists to avoid."""
    from pyspark_etl_project_spark.operators.fs import escape_glob, glob_dirs

    alts = "{" + ",".join(str(b) for b in bucket_ids) + "}"
    level = f"{partition_col}=*/" if partition_col is not None else ""
    dirs = glob_dirs(spark,
                     f"{escape_glob(path)}/{level}{MART_BUCKET_COL}={alts}")
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    if dirs:
        return (reader.option("basePath", path)
                .parquet(*[escape_glob(d) for d in dirs])
                .drop(MART_BUCKET_COL))
    # The no-touched-dir fallback reads the full path for the schema —
    # same glob-expansion hazard as the pruned read above, so the path
    # is escaped here too.
    _bucket_dir_ids(spark, path, partition_col)
    full = reader.parquet(escape_glob(path))
    return (full.filter(F.col(MART_BUCKET_COL).isin(bucket_ids))
            .drop(MART_BUCKET_COL))


def _surrogate_offset(mart: DataFrame, surrogate_col: str) -> int:
    row = mart.agg(F.max(surrogate_col).alias("m")).first()
    return int(row["m"]) if row and row["m"] is not None else 0


def _assign_surrogates(df: DataFrame, surrogate_col: str, offset: int,
                       key: str, dense: bool,
                       pinned: list | None = None) -> DataFrame:
    if dense:
        return dense_row_number(df, [key], surrogate_col, offset=offset,
                                pinned=pinned)
    return df.withColumn(surrogate_col,
                         (F.monotonically_increasing_id() + F.lit(offset + 1)).cast("long"))


def dense_row_number(df: DataFrame, order_cols: list[str], out_col: str,
                     offset: int = 0,
                     num_partitions: int | None = None,
                     pinned: list | None = None) -> DataFrame:
    """Global 1-based dense row number by ``order_cols`` WITHOUT a
    single-partition window (the naive ``Window.orderBy`` moves every row
    to one task — fatal at scale).

    Two-phase, entirely INSIDE the plan: (1) range-repartition on the
    ordering columns so partition ids ascend with the sort order;
    (2) per-partition local row_number + the partition's cumulative
    offset, where the offsets come from a groupBy on the partition id
    cumulated by a window and broadcast back — one tiny side plan
    (one row per partition), ZERO driver-side actions. (The earlier
    version collected the counts to the driver at PLAN BUILD time,
    which materialized the whole upstream lineage before the query even
    ran — 14 build-time Spark jobs on the CSV pipeline; and
    `localCheckpoint`, even with eager=False, materializes at call time
    in this Spark build, so it is avoided too.) The offsets window is
    deliberately unpartitioned: its input is one row per range
    partition (dozens to a few thousand), bounded by
    ``num_partitions``, not by data volume. The lazy `persist` pins the
    range exchange — its cached plan (and the sampled partition
    boundaries inside it) is compiled once and shared by both branches,
    so the counts branch and the row-number branch cannot disagree even
    under partition eviction/recompute. For unique keys the result is
    byte-identical to a global row_number; among exact ties the winner
    is partition-local (same nondeterminism class as the global window).
    """
    from pyspark.storagelevel import StorageLevel

    from pyspark_etl_project_spark.functions.reserved import (
        require_free_columns)

    require_free_columns(df, ["_dense_pid", "_dense_off"],
                         "dense_row_number")
    sort_cols = [F.col(c) for c in order_cols]
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    ranged = (df.repartitionByRange(n, *sort_cols)
                .persist(StorageLevel.MEMORY_AND_DISK))
    if pinned is not None:
        pinned.append(ranged)
    with_pid = ranged.withColumn("_dense_pid", F.spark_partition_id())
    wcum = (Window.orderBy("_dense_pid")
                  .rowsBetween(Window.unboundedPreceding, -1))
    offsets = (with_pid.groupBy("_dense_pid")
               .agg(F.count(F.lit(1)).alias("_dense_n"))
               .withColumn("_dense_off",
                           F.coalesce(F.sum("_dense_n").over(wcum),
                                      F.lit(0)) + F.lit(offset))
               .select("_dense_pid", "_dense_off"))
    w = Window.partitionBy("_dense_pid").orderBy(*sort_cols)
    return (with_pid
            .join(F.broadcast(offsets), "_dense_pid")
            .withColumn(out_col,
                        (F.row_number().over(w)
                         + F.col("_dense_off")).cast("long"))
            .drop("_dense_pid", "_dense_off"))


def asof_snapshot(mart: DataFrame, asof_ts: str,
                  start_col: str = "START_DATE",
                  end_col: str = "END_DATE") -> DataFrame:
    """Time travel over the SCD2 mart: the table AS OF ``asof_ts`` is
    every version whose validity interval covers the instant
    (start <= t < end) — START_DATE inclusive, END_DATE exclusive, the
    same convention the merge writes (an expiring row's END_DATE equals
    its successor's START_DATE, so an as-of exactly at a load boundary
    sees the POST-load state, never both versions).

    Map-only over the mart scan; both bounds push down to parquet and
    combine with the mart's bucket/partition layout, so a snapshot at
    100 TB reads only row groups whose min-max straddle the instant.
    The selected versions are then presented AS THEY WERE at t: in a
    replace-only SCD2 (expiry happens solely when a successor arrives)
    every version alive at t was open at t, so its contemporaneous
    END_DATE was the open sentinel and its ACTIVE_FLAG 1 — the
    snapshot rewrites both, rather than leaking the FUTURE expiry
    stamp into the historical view.

    (Cites the reference's manual history queries over ACTIVE_FLAG /
    START_DATE / END_DATE, Setup/SQL_DDL_Script.sql:155-157.)"""
    t = F.lit(asof_ts).cast("timestamp")
    flag = "ACTIVE_FLAG" if "ACTIVE_FLAG" in mart.columns else None
    snap = mart.filter((F.col(start_col) <= t) & (F.col(end_col) > t))
    snap = snap.withColumn(end_col,
                           F.lit(SCD2_OPEN_END_DATE).cast("timestamp"))
    if flag:
        snap = snap.withColumn(flag, F.lit(1))
    return snap


def vacuum_expired(mart: DataFrame, horizon_ts: str,
                   end_col: str = "END_DATE") -> DataFrame:
    """History retention for the SCD2 mart: drop versions that EXPIRED
    before the horizon (END_DATE < horizon) — open rows (sentinel end)
    and recently-closed history survive, so any AS-OF query inside the
    retention window still reconstructs exactly (asof_snapshot only
    needs versions with end > t). Map-only pushed filter; at scale it
    runs as a partition rewrite during compaction, same predicate."""
    t = F.lit(horizon_ts).cast("timestamp")
    return mart.filter(F.col(end_col) >= t)


_INTEGRALS = ("tinyint", "smallint", "int", "bigint")


def _widen_simple_types(types: set[str]) -> str | None:
    """Smallest Spark type EVERY footer type in ``types`` upcasts to
    inside the parquet reader itself, or None when no verified such
    type exists. Only reader-verified widenings (Spark 4.1 vectorized
    reader, probed empirically) are allowed: the integral chain
    tinyint<smallint<int<bigint, float→double, and
    int-or-narrower→double. bigint→double is NOT in the lattice — the
    reader refuses INT64→double — so a bigint/floating mix (and any
    non-numeric or nested conflict) returns None and the vacuum
    refuses before touching data."""
    if len(types) == 1:
        return next(iter(types))
    if types <= set(_INTEGRALS):
        return _INTEGRALS[max(_INTEGRALS.index(t) for t in types)]
    if types <= {"tinyint", "smallint", "int", "float", "double"}:
        return "double"
    return None


def _widened_footer_schema(spark, path: str, depth: int):
    """Schema probe for a TYPE-evolved mart, used when Spark's own
    mergeSchema refuses the footer mix. The driver never enumerates
    files: one globStatus call lists the LEAF partition dirs (bounded
    at sources × num_buckets — the same bound the vacuum's survivor
    collect already relies on), and one distributed job fans those
    dirs out so each task lists its own dirs and reads their parquet
    FOOTERS via pyarrow (no row data moves — O(files) work lives on
    executors), emitting (column, spark-type, footer-position)
    triples; the driver sees only the per-column DISTINCT type sets —
    O(columns), not O(files). Each conflicted column is pinned to
    _widen_simple_types' verified reader-upcast supertype; an
    unwidenable mix raises with the column and types named, before any
    data is modified. Column order follows first footer appearance
    (ties by name) so the healed mart keeps a stable, deterministic
    layout."""
    from pyspark.sql import types as T

    from pyspark_etl_project_spark.operators.fs import (
        escape_glob, glob_dirs)

    leaf_dirs = [
        d for d in glob_dirs(spark, escape_glob(path) + "/*" * depth)
        # A glob * also matches _temporary/.staging dirs — exclude any
        # leaf whose relative components are non-data, same convention
        # as every Spark listing.
        if all(not c.startswith(("_", "."))
               for c in d.split("/")[-depth:])]
    if not leaf_dirs:
        raise ValueError(
            f"vacuum_mart_path: no partition dirs under {path} to probe")

    def footer_fields(batches):
        import os as _os
        from urllib.parse import urlparse

        import pandas as pd
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_type

        for pdf in batches:
            names, dtypes, poss = [], [], []
            for duri in pdf["dir"]:
                if duri.startswith("file:") or "://" not in duri:
                    d = urlparse(duri).path if ":" in duri else duri
                    entries = [(p, None) for p in
                               (_os.path.join(d, f)
                                for f in _os.listdir(d))
                               if _os.path.isfile(p)]
                else:
                    from pyarrow import fs as pafs
                    filesystem, rel = pafs.FileSystem.from_uri(duri)
                    infos = filesystem.get_file_info(
                        pafs.FileSelector(rel))
                    entries = [(i.path, filesystem) for i in infos
                               if i.type == pafs.FileType.File]
                for fpath, filesystem in entries:
                    if _os.path.basename(fpath).startswith(("_", ".")):
                        continue
                    sch = pq.read_schema(fpath, filesystem=filesystem)
                    for i, fld in enumerate(sch):
                        names.append(fld.name)
                        dtypes.append(
                            from_arrow_type(fld.type).simpleString())
                        poss.append(i)
            yield pd.DataFrame({"name": names, "dtype": dtypes,
                                "pos": poss})

    par = max(1, min(len(leaf_dirs),
                     spark.sparkContext.defaultParallelism * 4))
    rows = (spark.createDataFrame([(d,) for d in leaf_dirs], "dir string")
            .repartition(par)
            .mapInPandas(footer_fields, "name string, dtype string, pos int")
            .groupBy("name")
            .agg(F.collect_set("dtype").alias("dtypes"),
                 F.min("pos").alias("pos"))
            .collect())

    ddl_fields = []
    for r in sorted(rows, key=lambda r: (r["pos"], r["name"])):
        widened = _widen_simple_types(set(r["dtypes"]))
        if widened is None:
            raise ValueError(
                f"vacuum_mart_path: column {r['name']!r} has unmergeable "
                f"footer types {sorted(r['dtypes'])} across the mart's "
                f"files at {path}; only verified parquet-reader widenings "
                "(integral chains, float->double, int-or-narrower->double) "
                "can be healed by the vacuum rewrite — migrate the mart's "
                "schema explicitly first. No data was modified.")
        # simpleString IS DDL (bigint, struct<...>) — StructType.add's
        # json-name parser would reject it, so go through fromDDL.
        name = r["name"].replace("`", "``")
        ddl_fields.append(f"`{name}` {widened}")
    return T.StructType.fromDDL(", ".join(ddl_fields))


def _vacuum_schema(spark, path: str, part_cols: list):
    """The pinned full read schema for the vacuum pass's mart reads:
    data columns from the merged footers (or the widened fallback on a
    type-evolved mix), every partition-dir column as string.

    Partition values must round-trip VERBATIM through the pass: with
    type inference on, a string partition dir like 'SRC=0123' reads
    back as int 123, and the rewrite would silently rename the
    partition to 'SRC=123' (and merge '01' with '1'). A user-specified
    schema bypasses partition type inference PER-READ (verified on
    4.1: '0123' stays '0123', 'a%3Ab' unescapes to 'a:b', sentinel dirs
    read back NULL), so no session-global conf is touched — a
    concurrent reader in the same SparkSession is unaffected. It also
    fixes the all-NULL mart: a mart whose every dir is
    __HIVE_DEFAULT_PARTITION__ reads back as a VOID-typed partition
    column under plain discovery, and the rewrite's write.partitionBy
    refuses VOID — pinned to string, it round-trips.

    The data columns MERGE every file's footer (recursiveFileLookup
    skips partition parsing, so it yields data columns only): a
    single-footer probe would silently DROP any column absent from the
    one probed file on a schema-evolved mart — the rewrite then
    deletes that column's data from disk with no error. Merged-footer
    reads are one distributed job over O(files) footers — linear, and
    the only correct basis for a destructive rewrite that must
    preserve every column. The retention predicate still pushes down
    to the parquet scan (tests/test_scale.py pins PushedFilters on a
    read with this schema).

    TYPE-evolved marts (the same column int in load-1 files, long in
    load-2): Spark's mergeSchema probe REFUSES that mix
    (CANNOT_MERGE_SCHEMAS — it never widens), so the probe falls back
    to _widened_footer_schema: one distributed footer pass computes
    the per-column type sets and pins each conflicted column to the
    smallest type the parquet reader itself can upcast every file to
    (verified on 4.1: integral chains, float→double,
    int-or-narrower→double). The rewrite then persists survivors in
    the widened type — one vacuum HEALS the rewritten leaves to a
    uniform schema. A mix outside the verified lattice (string vs int,
    bigint vs double, conflicting nested types) raises before any
    data moves."""
    from pyspark.sql import types as T

    from pyspark_etl_project_spark.operators.fs import escape_glob

    try:
        data_schema = (spark.read
                       .option("recursiveFileLookup", "true")
                       .option("mergeSchema", "true")
                       .parquet(escape_glob(path)).schema)
    except Exception as exc:  # noqa: BLE001 — gate on the MERGE error only
        # Py4J surfaces this one unconverted; anything that is not the
        # schema-merge refusal (missing path, permissions) re-raises.
        if "CANNOT_MERGE_SCHEMAS" not in str(exc):
            raise
        data_schema = _widened_footer_schema(spark, path,
                                             depth=len(part_cols))
    full = T.StructType([f for f in data_schema.fields
                         if f.name not in part_cols])
    for c in part_cols:
        full = full.add(c, T.StringType())
    return full


def _leaf_expiry_stats(full: DataFrame, part_cols: list) -> DataFrame:
    """Per-leaf expiry statistics driving the pruned vacuum: min/max
    END_DATE and a NULL-presence flag, grouped by the leaf partition
    columns. Deliberately touches NO other column — the vacuum's
    scale claim is that classification costs a sliver of mart bytes,
    and the plan test pins this frame's scan ReadSchema to exactly
    END_DATE (partition columns come from dir names, not file
    bytes)."""
    return (full.groupBy(*part_cols)
            .agg(F.min("END_DATE").alias("mn"),
                 F.max("END_DATE").alias("mx"),
                 F.max(F.col("END_DATE").isNull()).alias("nn")))


def vacuum_mart_path(spark, path: str, horizon_ts: str,
                     partition_col: str | None = None,
                     key: str = KEY,
                     num_buckets: int = 16) -> None:
    """ON-DISK retention maintenance for a persisted mart: apply
    vacuum_expired's predicate and rewrite the mart IN ITS OWN LAYOUT
    — the maintenance twin of compact_band_index for the SCD2 side.
    ``partition_col``/``key``/``num_buckets`` must match the layout the
    mart was written with (the same contract as every write_mart
    caller); the pre-write layout probe refuses a mismatch before any
    data moves.

    Write shape, expiry-pruned (round 13): one narrow stats pass
    (END_DATE + the leaf partition columns only — column-pruned, no
    other bytes read) classifies every (partition, bucket) LEAF as
    clean (min END >= horizon, no NULLs: nothing to drop — its files
    are left byte-untouched), dead (max END < horizon or all-NULL:
    no survivors — its dir is deleted through the Hadoop FS API,
    parent dirs included when a partition value dies whole), or
    touched (has both expired and surviving rows — ONLY these leaves
    are re-read, filtered and rewritten via dynamic overwrite).
    Before this, every vacuum rewrote the WHOLE mart: at 100 TB a
    retention pass dropping 1% of rows paid a 100% rewrite; now it
    pays the narrow stats scan plus a rewrite proportional to the
    leaves that actually hold expired rows. (Footer min/max stats
    cannot replace the stats scan: Spark writes timestamps as INT96
    by default, which carries NO parquet column statistics — also the
    reason the pushed END_DATE filter cannot row-group-prune on this
    layout.) Rows with NULL END_DATE never satisfy `END >= horizon`,
    so they are dropped by the rewrite, as before — a leaf containing
    them is classified touched (or dead when nothing survives).

    The heal (type-widened marts) applies to the leaves the vacuum
    rewrites: clean leaves keep their on-disk vintage — every
    vacuum-side read pins the merged/widened schema, so mixed-vintage
    marts stay readable and heal progressively as retention touches
    them.

    Run it BETWEEN loads/streams, like every maintenance pass here:
    dynamic overwrite of a mart another writer owns mid-run would
    interleave two rewrite sets."""
    from pyspark_etl_project_spark.operators.fs import (
        escape_glob, hadoop_fs)

    def refuse() -> ValueError:
        # A vacuum that would empty the mart entirely is refused: a
        # file-less root crashes every subsequent read ("Unable to
        # infer schema"). Deleting a whole mart is an explicit caller
        # action, not a retention side effect.
        return ValueError(
            f"vacuum_mart_path: horizon {horizon_ts} would expire "
            f"EVERY row of the mart at {path}; refusing to vacuum "
            "a mart to empty — delete the mart explicitly if that "
            "is intended")

    part_cols = ([partition_col] if partition_col is not None else []) \
        + [MART_BUCKET_COL]
    # The horizon is parsed by SPARK (same cast the filter uses), so
    # the driver-side stats compare cannot drift from the rewrite's
    # predicate semantics.
    hz = spark.range(1).select(
        F.lit(horizon_ts).cast("timestamp").alias("t")).first()["t"]
    if hz is None:
        raise ValueError(
            f"vacuum_mart_path: unparseable horizon {horizon_ts!r}")

    schema = _vacuum_schema(spark, path, part_cols)
    full = spark.read.schema(schema).parquet(escape_glob(path))
    # ONE narrow pass: leaf partition columns + END_DATE (column
    # pruning leaves every other byte unread — a plan test pins the
    # scan's ReadSchema to exactly END_DATE). Bounded result:
    # ≤ sources × num_buckets rows.
    stats = _leaf_expiry_stats(full, part_cols).collect()
    # Leaf dirs are rendered by Spark's OWN renderer
    # (getPartitionPathString: Hive escaping + the
    # __HIVE_DEFAULT_PARTITION__ sentinel for NULL/empty), so names
    # cannot drift from what the writer produced. Each render is one
    # py4j round trip, so results are CACHED per distinct value —
    # user partition values are bounded by the source count, and the
    # bucket component skips the JVM entirely (pmod-derived integers:
    # never NULL, never escaped — the rendering is the identity
    # `MART_BUCKET=<n>`). Leaf identity by raw read-back value is
    # exact: the pinned read already normalized dir values (NULL/''
    # both come back NULL), so no two stats rows share a dir.
    esc = spark.sparkContext._jvm.org.apache.spark.sql.catalyst \
        .catalog.ExternalCatalogUtils
    _render_cache: dict = {}

    def _render(col: str, v) -> str:
        if col == MART_BUCKET_COL and v is not None:
            return f"{col}={v}"
        if (col, v) not in _render_cache:
            _render_cache[(col, v)] = esc.getPartitionPathString(
                col, None if v is None else str(v))
        return _render_cache[(col, v)]

    def leaf(vals) -> tuple:
        return tuple(_render(c, v) for c, v in zip(part_cols, vals))

    dead, touched = [], []
    alive_first = set()
    for r in stats:
        vals = tuple(r[c] for c in part_cols)
        if r["mx"] is None or r["mx"] < hz:
            dead.append(vals)             # no survivors in this leaf
        elif r["nn"] or (r["mn"] is not None and r["mn"] < hz):
            touched.append(vals)          # something to drop, rest stays
            alive_first.add(vals[0])
        else:
            # clean — not read again, not rewritten, files untouched
            alive_first.add(vals[0])
    if len(dead) == len(stats):
        raise refuse()
    touched = [leaf(v) for v in touched]

    if touched:
        base = path.rstrip("/")
        dirs = [base + "/" + "/".join(lf) for lf in touched]
        # Re-read ONLY the touched leaves (explicit subdirs + basePath
        # keeps the listing O(touched); the pinned schema keeps the
        # partition values verbatim), filter, and dynamic-overwrite
        # exactly those leaves — every touched leaf has at least one
        # survivor (max END >= horizon), so none is silently skipped.
        # The read feeds the overwrite of the same leaves with no
        # materialization: write_mart's staged commit isolates it.
        kept = vacuum_expired(
            spark.read.schema(schema).option("basePath", path)
                 .parquet(*[escape_glob(d) for d in dirs])
                 .drop(MART_BUCKET_COL),
            horizon_ts)
        write_mart(kept, path, partition_col=partition_col, key=key,
                   num_buckets=num_buckets)

    if dead:
        from collections import defaultdict

        jvm, fs, _ = hadoop_fs(spark, path)
        base = path.rstrip("/")
        # First-level values with NO alive leaf die as a whole subtree
        # (removing only bucket leaves would leave an empty pcol=x
        # shell); otherwise only the dead leaf dirs are removed.
        # Comparison stays in RAW value space (alive_first above);
        # rendering happens once per deleted path.
        by_first = defaultdict(list)
        for vals in dead:
            by_first[vals[0]].append(vals)
        for first, dead_vals in by_first.items():
            if first not in alive_first:
                fs.delete(jvm.org.apache.hadoop.fs.Path(
                    base + "/" + leaf(dead_vals[0])[0]), True)
            else:
                for vals in dead_vals:
                    fs.delete(jvm.org.apache.hadoop.fs.Path(
                        base + "/" + "/".join(leaf(vals))), True)
