"""Structured Streaming ingest — replaces the reference's driver-side
poll loop (J1-J3, /root/reference/ETL/XML_Streaming.py:85-107: 10 s
REST poll + manual `increment_id > last` watermark + archive append).

Spark mapping:
- source offsets replace the hand-kept high-watermark (J2);
- `trigger(processingTime=...)` replaces `time.sleep(10)` (J1);
- `foreachBatch(scd2_merge)` gives idempotent at-least-once merge —
  re-delivered records collapse through the hash-CDC DUPLICATE class,
  same as the reference's archive replay (J3).

Tests drive a file source with processAllAvailable() (synchronous
drain); production swaps in kafka/rate sources — the plan is identical.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _events_stream_schema(events_path: str) -> tuple[T.StructType, bool]:
    """Build the readStream schema for the events parquet, sniffing the
    physical ``ts`` encoding once (driver-side, footer only). Generators
    have shipped both TIMESTAMP(NANOS) — which Spark only reads as long
    under nanosAsLong — and plain timestamp[us]. Returns (schema,
    ts_is_nanos_long): when True the caller must convert long-nanos →
    timestamp; when False ``ts`` is already a typed timestamp column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts_type = pq.read_schema(events_path).field("ts").type
    nanos_as_long = (pa.types.is_int64(ts_type)
                     or (pa.types.is_timestamp(ts_type)
                         and ts_type.unit == "ns"))
    ts_field = (T.StructField("ts", T.LongType(), True) if nanos_as_long
                else T.StructField("ts", T.TimestampType(), True))
    schema = T.StructType([
        T.StructField("event_id", T.LongType(), True),
        ts_field,
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ])
    return schema, nanos_as_long


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table; ts normalized to
    microsecond timestamps like the batch loader (plans/tables.py).

    The file source requires a directory (it watches for new files), so
    the single parquet file is exposed through a temp dir symlink — the
    testdata itself is read-only."""
    import os
    import tempfile

    src = os.path.join(sf_dir, "events.parquet")
    schema, nanos_as_long = _events_stream_schema(src)
    if nanos_as_long:
        # Mirror plans/tables.py:load — an externally-built session
        # (harness, notebook) reading TIMESTAMP(NANOS) parquet fails with
        # PARQUET_TYPE_ILLEGAL unless this runtime-settable conf is on.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    watch_dir = tempfile.mkdtemp(prefix="events_stream_")
    os.symlink(src, os.path.join(watch_dir, "events.parquet"))
    raw = spark.readStream.schema(schema).parquet(watch_dir)
    if nanos_as_long:
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def windowed_event_agg(stream: DataFrame,
                       window_len: str = "1 day",
                       watermark: str = "1 day") -> DataFrame:
    """Tumbling-window per-type counts + exact value cents. The decimal
    sum keeps the aggregate exact (cross-engine, and stable under
    retraction-free complete-mode output)."""
    return (stream
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window_len), F.col("event_type"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.floor(F.sum(F.col("value").cast("decimal(18,6)")) * 100)
                  .cast("long").alias("value_cents")))


def run_stream_to_memory(agg: DataFrame, name: str | None = None,
                         output_mode: str = "complete") -> DataFrame:
    """Drain the stream synchronously into an in-memory table and return
    it as a batch DataFrame (test/driver harness path)."""
    qname = name or f"mem_{uuid.uuid4().hex[:8]}"
    q = (agg.writeStream.outputMode(output_mode)
         .format("memory").queryName(qname).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return agg.sparkSession.table(qname)


STREAM_HASH_COL = "SOURCE_HASH_KEY"

# Sibling marker file recording which construction built the mart's
# persisted fingerprints (foreach_batch_scd2 writes it at seed time):
# "canonical-sorted-v1" = this module's md5 over the SORTED value
# columns; "caller" = the initial_mart carried its own SOURCE_HASH_KEY,
# which this module cannot reconstruct — arrivals must then carry the
# same caller-computed column. Externally built marts have no file and
# fall back to the documented trust-arrival-hash-if-present behavior.
# A SIBLING of the mart dir (like the _chk checkpoint), not a file
# inside it: the mart dir holds only write_mart's partition dirs, and
# its layout guard refuses any other visible entry there.
HASH_PROVENANCE_CANONICAL = "canonical-sorted-v1"
HASH_PROVENANCE_CALLER = "caller"


def provenance_marker_path(mart_path: str) -> str:
    return mart_path.rstrip("/") + "_fingerprint_provenance"


def read_provenance(spark: SparkSession, mart_path: str) -> str | None:
    """The mart's fingerprint-provenance value, or None (no marker —
    an externally built mart)."""
    from pyspark_etl_project_spark.operators.fs import read_text_marker

    return read_text_marker(spark, provenance_marker_path(mart_path))

_SCD2_META_COLS = ("ACTIVE_FLAG", "START_DATE", "END_DATE")


def _mart_value_cols(mart_cols, surrogate_col: str,
                     hash_col: str = STREAM_HASH_COL) -> list[str]:
    """The mart's business payload: everything except the surrogate id,
    the SCD2 validity stamps, and the persisted fingerprint. These are
    exactly the columns an arrival batch carries (scd2_merge contract)
    and the columns the redelivery fingerprint hashes."""
    meta = {surrogate_col, hash_col, *_SCD2_META_COLS}
    return [c for c in mart_cols if c not in meta]


def scd2_route_arrivals(arrivals: DataFrame, mart: DataFrame, key: str,
                        value_cols: list[str],
                        hash_col: str = STREAM_HASH_COL,
                        provenance: str | None = None) -> DataFrame:
    """Hash-CDC route a micro-batch against the active mart slice — the
    streaming twin of the batch spine's routing step
    (pipelines/common.py:96-105, reference
    /root/reference/ETL/CSV_Batch_Processing.py:150-162): a re-delivered
    row whose fingerprint matches the key's active version is a
    DUPLICATE and drops, so an at-least-once foreachBatch retry cannot
    expire a predecessor and insert a same-valued phantom version.

    The fingerprint is computed over ``sorted(value_cols)`` — ORDER IS
    CANONICALIZED, not positional, because the mart read-back order can
    differ from the seed frame's order (partition columns move to the
    end of a parquet read schema) and the DUPLICATE compare needs
    byte-identical re-hashes across both paths. When the mart persists
    the fingerprint (``hash_col`` present — any mart this module
    seeded), the historic side reads just (key, hash, ACTIVE_FLAG): three
    columns off the parquet scan. A mart without the column (built
    outside this module) gets the fingerprint recomputed on the fly
    (reads all value columns once) and keeps its schema — mixing
    schemas under dynamic partition overwrite would leave old-schema
    files in untouched buckets.

    Join shape: the batch is the SMALL side, the active mart slice the
    big one — so the historic slice is first semi-filtered to the
    arriving keys (broadcast of the batch's key set), then the
    batch-bounded remainder is broadcast into the classify join. Two
    broadcast joins, zero shuffles, never a broadcast of the mart."""
    from pyspark_etl_project_spark.functions.hashing import row_fingerprint
    from pyspark_etl_project_spark.operators.cdc import cdc_classify

    # Fail fast on contract drift: a prepare() that emits a column the
    # mart doesn't carry used to die loudly in the merge's unionByName;
    # the routing projection must not convert that into silent column
    # loss. (Missing value columns still fail loudly in the select.)
    extras = set(arrivals.columns) - set(value_cols) - {hash_col}
    if extras:
        raise ValueError(
            f"scd2_route_arrivals: arrival columns {sorted(extras)} are "
            f"not mart value columns {sorted(value_cols)}; arrivals "
            "must carry exactly the mart columns minus the surrogate "
            "and SCD2 stamps")
    fp = row_fingerprint(sorted(value_cols))
    has_hash = hash_col in mart.columns
    active = mart.filter(F.col("ACTIVE_FLAG").eqNullSafe(1))
    hist_hash = F.col(hash_col) if has_hash else fp
    hist = active.select(F.col(key).alias("HISTORIC_SSI"),
                         hist_hash.alias("HISTORIC_HASHKEY"))
    # Which fingerprint construction to hash the ARRIVAL side with —
    # it must match the historic side byte-for-byte or every
    # redelivered unchanged row compares unequal and phantom-UPDATEs
    # (the exact bug routing exists to prevent). Resolution order:
    # 1. Hash-less mart: the historic side just got the canonical
    #    on-the-fly fingerprint, so the arrival side MUST use the same
    #    — any arrival-carried hash_col is a different construction and
    #    is overwritten for routing (and dropped before the merge: the
    #    keep-list below excludes it for hash-less marts anyway).
    # 2. Marker says canonical: recompute canonical on arrivals even
    #    when prepare() emitted its own hash_col (e.g. a batch-spine
    #    prepare reusing the per-source-order SOURCE_HASH_KEY) — and
    #    the recomputed value is what merges, keeping the mart
    #    canonical for the next batch.
    # 3. Marker says caller: this module cannot reconstruct the
    #    caller's hashes, so hash-less arrivals are a guaranteed
    #    permanent mismatch — fail fast instead of silently growing
    #    phantom versions on every retry.
    # 4. No marker (externally built mart): the documented
    #    trust-arrival-hash-if-present fallback.
    if not has_hash or provenance == HASH_PROVENANCE_CANONICAL:
        arr = arrivals.withColumn(hash_col, fp)
    elif (provenance == HASH_PROVENANCE_CALLER
          and hash_col not in arrivals.columns):
        raise ValueError(
            f"scd2_route_arrivals: the mart's {hash_col} fingerprints "
            "are caller-managed (seed carried the column) but this "
            f"arrival batch has no {hash_col}; the canonical "
            "fingerprint would never match — prepare() must emit the "
            "same caller-computed hash column")
    else:
        arr = (arrivals if hash_col in arrivals.columns
               else arrivals.withColumn(hash_col, fp))
    arr_keys = arr.select(F.col(key).alias("HISTORIC_SSI")).distinct()
    hist_small = hist.join(F.broadcast(arr_keys), "HISTORIC_SSI",
                           "left_semi")
    routed = cdc_classify(arr, hist_small, key=key, hash_col=hash_col)
    keep = value_cols + ([hash_col] if has_hash else [])
    return routed.select(*keep)


# Sentinel: "read the mart's provenance marker yourself" — distinct
# from None, which is a real provenance value (no marker).
_READ_MARKER = object()


def scd2_merge_batch(spark: SparkSession, batch: DataFrame, mart_path: str,
                     run_ts: str, key: str, surrogate_col: str,
                     prepare=None, num_buckets: int = 16,
                     partition_col: str | None = None,
                     surrogate_offset: int | None = None,
                     hash_provenance=_READ_MARKER,
                     check_layout: bool = True) -> int:
    """One micro-batch of the foreachBatch SCD2 merge: route → merge →
    bucket-pruned rewrite. Returns the number of fresh versions written
    (0 = empty or pure-redelivery batch; merge and write were skipped).

    Module-level (not a closure) so idempotency under literal
    redelivery is directly testable: calling this twice with the same
    batch leaves the mart byte-identical — the second call's arrivals
    all route DUPLICATE and the merge+write is skipped entirely (the
    common foreachBatch retry is a cheap no-op, not a mart rewrite).

    The mart READ is bucket-pruned, matching the write: only the
    (bucket) partitions the arriving keys hash to are scanned — rows in
    untouched buckets are untouched by the merge (expired + fresh rows
    all carry arriving keys) and survive on disk unread. Per-batch cost
    is O(touched buckets + batch), never O(mart).

    ``surrogate_offset`` is the caller's surrogate high-watermark
    (foreach_batch_scd2 maintains one per run: a single full-mart MAX
    at stream start, then += this function's return value per batch).
    When None, the fallback scans the FULL mart's surrogate column —
    one column-pruned pass, correct but O(mart files); a MAX over just
    the touched slice would under-count ids living in untouched buckets
    and collide surrogates across buckets.

    ``hash_provenance`` is the mart's fingerprint-provenance marker
    value (see provenance_marker_path). foreach_batch_scd2 reads it once
    per run and passes it down; when left at the default sentinel this
    function reads the marker itself (direct/test callers).

    ``check_layout`` mirrors write_mart's flag: foreach_batch_scd2
    verifies the mart layout ONCE at stream start and passes False so
    the per-batch write skips the O(sources × buckets) partition-dir
    re-listing; direct/test callers keep the default True."""
    from pyspark.storagelevel import StorageLevel

    from pyspark_etl_project_spark.operators.scd2 import (
        _surrogate_offset, mart_bucket, read_mart, read_mart_touched,
        scd2_merge, write_mart)

    arrivals = prepare(batch) if prepare is not None else batch
    arrivals = arrivals.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # ONE pre-flight job computes both admission facts: whether any
        # NULL natural key arrived, and the distinct touched buckets
        # (collect_set is bounded by num_buckets, so the collect stays
        # constant-size). NULL keys defeat every SCD2 key join in the
        # chain (routing, expire, survivor split — all null-unsafe,
        # like the SQL joins they mirror): a NULL-key row would route
        # INSERT on EVERY delivery and its predecessor could never be
        # expired, so each at-least-once retry stacks another identical
        # active row — fail loudly instead of corrupting silently.
        pre = arrivals.agg(
            F.max(F.col(key).isNull()).alias("has_null"),
            F.collect_set(mart_bucket(key, num_buckets)).alias("bs")).first()
        if pre["has_null"]:
            raise ValueError(
                f"scd2_merge_batch: arrival batch contains NULL {key} "
                "rows; a NULL natural key cannot participate in SCD2 "
                "matching — filter or repair them in prepare()")
        # Empty batch (collect_set over zero rows is []): skip even the
        # mart read.
        if not pre["bs"]:
            return 0
        # Read ONLY the touched bucket slice — listing stays
        # O(touched buckets), layout-aware for partitioned marts (see
        # read_mart_touched for the full plan rationale). merge_schema:
        # this read FEEDS the bucket rewrite — on an evolved mart with
        # touched buckets of differing vintage a single-footer read
        # could drop a late-added column from every rewritten bucket.
        # Footer merging stays O(touched).
        mart = read_mart_touched(spark, mart_path, list(pre["bs"]),
                                 partition_col=partition_col,
                                 merge_schema=True)
        # The partition column is NOT stored in the parquet files
        # (partitionBy strips it) — its read-back type comes from DIR
        # NAME inference. A numeric-looking STRING value ('0123')
        # infers int (123), and the rewrite would fork the partition
        # (SRC=123 written beside the surviving SRC=0123 → reads
        # double-count). That silent corruption is detectable exactly
        # as a dtype disagreement with the arrival batch (which
        # carries the column as real data), so refuse loudly before
        # anything merges. Data columns are exempt on purpose: their
        # footer types are authoritative (no inference), and benign
        # union widenings (int arrivals into a long mart) are normal.
        if partition_col is not None and partition_col in arrivals.columns:
            mt = dict(mart.dtypes).get(partition_col)
            at = dict(arrivals.dtypes).get(partition_col)
            if mt is not None and mt != at:
                raise ValueError(
                    f"scd2_merge_batch: partition column {partition_col!r} "
                    f"reads back from the mart's dir names as {mt} but the "
                    f"arrival batch carries it as {at}. Dir-name type "
                    "inference has re-typed the stored values (e.g. a "
                    "numeric-looking string like '0123'), and a rewrite "
                    "would fork the partition dirs. Use a value space "
                    "whose type round-trips (int ids, or strings that "
                    "don't all parse numeric), or migrate the mart.")
        value_cols = _mart_value_cols(mart.columns, surrogate_col)
        if hash_provenance is _READ_MARKER:
            hash_provenance = read_provenance(spark, mart_path)
        routed = (scd2_route_arrivals(arrivals, mart, key, value_cols,
                                      provenance=hash_provenance)
                  .persist(StorageLevel.MEMORY_AND_DISK))
        try:
            n_fresh = routed.count()
            if n_fresh == 0:
                return 0
            if surrogate_offset is None:
                surrogate_offset = _surrogate_offset(
                    read_mart(spark, mart_path), surrogate_col)
            pinned: list = []
            try:
                merged = scd2_merge(mart, routed, run_ts=run_ts, key=key,
                                    surrogate_col=surrogate_col,
                                    dense_ids=True, cache_arrivals=False,
                                    surrogate_offset=surrogate_offset,
                                    pinned=pinned)
                write_mart(merged, mart_path, partition_col=partition_col,
                           key=key, num_buckets=num_buckets,
                           touched_keys=routed.select(key).distinct(),
                           check_layout=check_layout)
            finally:
                # Release this batch's pins (the dense-id range
                # exchange) whether or not the write succeeded — a
                # caller retrying a transient write failure must not
                # pin one more cached plan per attempt, and a
                # long-running stream must not accumulate one per
                # batch.
                for df_ in pinned:
                    df_.unpersist()
            return n_fresh
        finally:
            routed.unpersist()
    finally:
        arrivals.unpersist()


def foreach_batch_scd2(stream: DataFrame, mart_path: str, initial_mart: DataFrame,
                       run_ts: str, key: str = "SOURCE_SYSTEM_IDENTIFIER",
                       surrogate_col: str = "CSD_ID",
                       prepare=None,
                       num_buckets: int = 16,
                       partition_col: str | None = None,
                       reset: bool | None = None) -> None:
    """Merge each micro-batch into an SCD2 parquet mart. At-least-once
    file sink made idempotent by hash-CDC routing BEFORE the merge
    (scd2_route_arrivals): a re-delivered unchanged row routes DUPLICATE
    against the key's active version and drops, and a batch that routes
    entirely DUPLICATE skips the merge and write outright — so a
    foreachBatch retry (failure between mart write and checkpoint
    commit re-runs the batch) leaves the mart byte-identical instead of
    expiring predecessors into same-valued phantom versions.

    The seeded mart persists a row fingerprint (STREAM_HASH_COL, md5
    over the sorted value columns — same construction as the batch
    mart's SOURCE_HASH_KEY): the routing join then reads only
    (key, hash, ACTIVE_FLAG) from the active slice, not every value
    column. WHICH construction built the persisted hashes is recorded
    at seed time in a provenance marker SIBLING to the mart dir (the
    mart dir holds only write_mart's partition dirs), and every merge
    routes arrivals with the matching one: a canonical-marked mart
    recomputes the canonical fingerprint on arrivals even when
    prepare() emits its own ``SOURCE_HASH_KEY`` (a foreign construction
    would never match and every redelivery would phantom-UPDATE); a
    caller-marked mart (``initial_mart`` carried the column) REQUIRES
    every arrival batch to carry the same caller-computed hash and
    fails fast when one doesn't. NULL natural keys are rejected at
    seed and per batch — the (null-unsafe) key joins could never match
    them, so each retry would stack another identical active row.

    The mart lives in the bucketed layout (``write_mart``): each batch
    reads AND rewrites ONLY the (bucket) partitions its arriving keys
    hash to (partition-pruned scan + dynamic overwrite) — at 100 TB a
    micro-batch touches a handful of buckets, never the whole mart, and
    the surrogate-id offset comes from a per-run high-watermark instead
    of a per-batch full-mart MAX. The merge plan reads the same path it
    overwrites; write_mart's staged dynamic-overwrite commit replaces
    the bucket dirs only after every read of them has finished.
    ``prepare`` optionally pre-collapses each raw micro-batch to
    merge-ready arrivals (e.g. latest-per-key within the batch — the
    reference's E1 dedup before CDC). Batch sizes are bounded by
    maxFilesPerTrigger / Kafka admission control."""
    from pyspark_etl_project_spark.functions.hashing import row_fingerprint
    from pyspark_etl_project_spark.operators.scd2 import write_mart

    # Normalize ONCE so every sibling path derives from the same stem:
    # a trailing-slash mart_path would put the '_chk' checkpoint INSIDE
    # the mart dir, mixing the running query's committed offsets into
    # the mart's partition dirs (the marker path rstrips internally,
    # but the checkpoint concat and the prior-state probe must agree
    # with it).
    mart_path = mart_path.rstrip("/") or mart_path
    spark = stream.sparkSession
    # A fresh load clears BOTH the mart directory and the stream
    # checkpoint before seeding. The seed write alone is NOT a reset —
    # write_mart's bucketed dynamic overwrite touches only the buckets
    # the initial mart's keys hash to, so a previous run's other
    # buckets would silently survive under the new seed; and a
    # surviving checkpoint's committed offsets would make the restarted
    # stream SKIP batches whose merges the reset just erased (permanent
    # silent loss). With both cleared, the stream replays everything
    # and converges to the same mart (the merge is deterministic given
    # the seed).
    #
    # Destroying a caller-supplied path is OPT-IN, never a default:
    # ``reset=True`` wipes + seeds, ``reset=False`` resumes an
    # interrupted stream (keeps checkpoint AND mart, skips the
    # seeding), and the default ``None`` seeds only a virgin path —
    # when prior state exists it raises instead of guessing, so a path
    # mistake cannot silently erase someone's mart. (Hadoop FS API —
    # works on any supported filesystem, not just local.)
    from pyspark_etl_project_spark.operators.fs import (hadoop_fs,
                                                        write_text_marker)

    # The provenance marker is deleted/rewritten with the mart but does
    # NOT participate in the prior-state refusal (a stray marker with
    # no mart is stale bookkeeping, not user data worth refusing over).
    marker = provenance_marker_path(mart_path)
    targets = {}
    for p in (mart_path, mart_path + "_chk", marker):
        _, fs, jpath = hadoop_fs(spark, p)
        targets[p] = (jpath, fs)
    existing = [p for p, (jp, fs) in targets.items()
                if p != marker and fs.exists(jp)]
    if reset is None and existing:
        # reset=False is only a valid suggestion when the mart survives
        # (it is the resume state); a checkpoint WITHOUT a mart is a
        # dead end — its committed offsets point at merges whose
        # results are gone, so the only sound move is a fresh load.
        if mart_path not in existing:
            resume_hint = (
                "(only a stale checkpoint survives — its committed "
                "offsets reference a mart that no longer exists, so "
                "resuming is impossible)")
        elif mart_path + "_chk" in existing:
            resume_hint = "or reset=False to resume from the checkpoint"
        else:
            resume_hint = (
                "or reset=False to keep the mart (no checkpoint "
                "survives, so the stream replays from the start — "
                "idempotent: re-delivered unchanged rows route "
                "DUPLICATE)")
        raise ValueError(
            f"foreach_batch_scd2: prior state exists at {existing}; pass "
            "reset=True to wipe it (fresh load, replays the whole "
            f"stream) {resume_hint}")
    if reset is False:
        if mart_path not in existing:
            raise ValueError(
                "foreach_batch_scd2: reset=False (resume) requires an "
                f"existing mart at {mart_path}")
    else:
        seed = initial_mart
        # A NULL natural key in the seed could never be matched by the
        # routing or merge key joins (both are null-unsafe, like the
        # SQL join semantics they mirror): its active row would be
        # unexpirable and every redelivery would stack another copy.
        # Reject loudly — and BEFORE the reset delete below, so a bad
        # seed cannot first destroy the prior mart/checkpoint and then
        # fail, leaving nothing behind.
        if seed.filter(F.col(key).isNull()).limit(1).count() > 0:
            raise ValueError(
                f"foreach_batch_scd2: initial_mart contains NULL {key} "
                "rows; a NULL natural key cannot participate in SCD2 "
                "matching — filter or repair them before seeding")
        for p, (jp, fs) in targets.items():
            if p in existing or fs.exists(jp):
                fs.delete(jp, True)
        if STREAM_HASH_COL not in seed.columns:
            vcols = _mart_value_cols(seed.columns, surrogate_col)
            seed = seed.withColumn(STREAM_HASH_COL,
                                   row_fingerprint(sorted(vcols)))
            provenance = HASH_PROVENANCE_CANONICAL
        else:
            provenance = HASH_PROVENANCE_CALLER
        # SIBLING marker file (not inside the mart dir): records WHOSE
        # construction the persisted fingerprints are, so every later
        # merge routes arrivals with the matching one — mixing
        # constructions would make every redelivered unchanged row
        # compare unequal and phantom-UPDATE, the exact bug routing
        # exists to prevent. Sibling because the mart dir holds only
        # write_mart's partition dirs. Written BEFORE the seed: a crash
        # in between leaves a marker with no mart — resume then fails
        # loudly (no mart to resume) instead of a marker-less mart
        # silently falling back to trust-arrival routing.
        write_text_marker(spark, marker, provenance)
        write_mart(seed, mart_path, partition_col=partition_col,
                   key=key, num_buckets=num_buckets)

    # Per-run surrogate high-watermark: ONE full-mart MAX at stream
    # start (a single column-pruned pass), then += fresh-row count per
    # batch — so the per-batch merge never rescans the mart for its id
    # offset. A crash between a batch's mart write and this in-memory
    # bump cannot leak a stale offset: restart recomputes the watermark
    # from the mart itself, which already contains the written ids.
    from pyspark_etl_project_spark.operators.scd2 import (
        _check_bucket_layout, _surrogate_offset, read_mart)

    hwm = [_surrogate_offset(read_mart(spark, mart_path), surrogate_col)]
    # Verify the on-disk layout ONCE per run (the resume path skips the
    # seed write, so this is the only check it passes through), then
    # skip the per-batch re-listing: the layout cannot change while
    # this run owns the mart — write_mart's probe lists every partition
    # dir, O(sources × buckets) metadata per micro-batch at the
    # documented 1024+ bucket scale.
    _check_bucket_layout(spark, mart_path, partition_col, num_buckets)
    # Read the provenance marker ONCE per run, not per micro-batch —
    # it cannot change while this run owns the mart (only the seed
    # path writes it), and a py4j file read per batch is avoidable
    # per-batch latency.
    run_provenance = read_provenance(spark, mart_path)

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        hwm[0] += scd2_merge_batch(
            spark, batch, mart_path, run_ts=run_ts, key=key,
            surrogate_col=surrogate_col, prepare=prepare,
            num_buckets=num_buckets, partition_col=partition_col,
            surrogate_offset=hwm[0], hash_provenance=run_provenance,
            check_layout=False)

    q = (stream.writeStream.outputMode("append")
         .foreachBatch(merge_batch)
         .option("checkpointLocation", mart_path + "_chk")
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def stream_documents(spark: SparkSession, sf_dir: str,
                     min_doc_id: int = 300,
                     files: int = 2) -> tuple[DataFrame, str]:
    """File-source stream over a slice of the documents table, split
    into ``files`` parquet files so the stream genuinely delivers
    multiple micro-batches under maxFilesPerTrigger=1 (a single-file
    stream would collapse every incremental operator into one batch).
    Returns (stream, watch_dir). The split is on doc_id ranges, but
    downstream operators must stay batch-split-invariant — the file
    source orders by file discovery, which is not contractual."""
    import os
    import tempfile

    docs = (spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            .filter(F.col("doc_id") >= min_doc_id)
            .select("doc_id", "text"))
    watch_dir = tempfile.mkdtemp(prefix="docs_stream_")
    # ONE write job lays down every chunk: a chunk-id column +
    # partitionBy replaces the former per-chunk coalesce(1) loop
    # (``files`` serial jobs, each re-reading + re-filtering the
    # parquet). Hash-repartitioning on the chunk id keeps all rows
    # of a chunk in one task, so each chunk dir still gets exactly
    # ONE file — the maxFilesPerTrigger=1 multi-batch contract.
    # The explicit readStream schema below omits the partition
    # column, so the streamed rows stay (doc_id, text).
    # The chunk id is pmod(doc_id, files) rather than a doc_id-range
    # split: membership of a chunk is not contractual (every consumer
    # is batch-split-invariant by contract and their oracles rebuild
    # from the whole slice), and the former range split needed a
    # min/max aggregation job over the slice BEFORE the write — a
    # whole extra pass of setup per drain (guide §1.2).
    (docs.withColumn("chunk",
                     F.pmod(F.col("doc_id"), F.lit(files)).cast("int"))
     .repartition(files, F.col("chunk"))
     .write.mode("overwrite").partitionBy("chunk").parquet(watch_dir))
    # A chunk with no rows (sparse/gapped ids, or an entirely empty
    # slice) produces no dir in the partitioned write — but the
    # contract is exactly ``files`` parquet files (= micro-batches
    # under maxFilesPerTrigger=1); split-invariance tests compare
    # run(1) vs run(N) and need the requested split to actually
    # happen. Backfill the missing chunks with empty single-file
    # writes (a no-op on the dense gate data).
    for i in range(files):
        cdir = os.path.join(watch_dir, f"chunk={i}")
        if not os.path.isdir(cdir):
            (docs.filter(F.lit(False)).coalesce(1)
             .write.mode("overwrite").parquet(cdir))
    schema = T.StructType([T.StructField("doc_id", T.LongType(), True),
                           T.StructField("text", T.StringType(), True)])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(os.path.join(watch_dir, "chunk=*")))
    return stream, watch_dir


DOC_BUCKET_COL = "DOC_BUCKET"


def band_index_batch(batch: DataFrame, bands_path: str,
                     num_hashes: int = 8, num_bands: int = 4,
                     shingle_n: int = 3,
                     rows_per_band: int | None = None,
                     num_buckets: int = 16,
                     existing_buckets: set[int] | None = None) -> set[int]:
    """One micro-batch of band-index maintenance: band the docs and
    append to the persistent (doc_id, band_id, band_hash) index —
    IDEMPOTENT under at-least-once redelivery. A foreachBatch retry
    re-delivers the whole batch; without a guard the re-append would
    duplicate every band row, and the index's corpus-hit counts
    (COUNT(*) joins downstream) would double. The guard anti-joins the
    batch's doc_ids against the ones already indexed: a doc is either
    fully indexed (its append committed) or absent (it didn't), so
    doc-level dedup is exact for whole-batch redelivery.

    The index is PARTITIONED by a doc_id hash bucket (``num_buckets``,
    fixed per index path — same contract as the mart's MART_BUCKET),
    so the already-indexed probe reads only the dirs the BATCH's docs
    hash to: per-batch guard cost is O(index ∩ touched buckets), not
    O(total docs ever indexed) — a flat index made every tiny batch
    rescan the whole doc_id column, growing without bound over the
    stream's lifetime. Readers are unaffected: the partition column
    rides along and every consumer projects explicit columns.

    ``existing_buckets`` is the set of DOC_BUCKET ids already on disk
    (foreach_batch_band_index lists + layout-checks ONCE at stream
    start through the mart's guard, _check_bucket_layout, and
    maintains the set across batches — the per-batch FS listing was
    this sink's dominant fixed cost at small batch sizes, mirroring
    the SCD2 path's check_layout=False hoist). Direct/test callers leave the
    default None and get the listing + guard per call. Returns the
    batch's touched bucket ids — after this call every one of
    them exists on disk (pre-existing, or just written: a touched
    bucket with no prior dir always has surviving fresh rows, since
    no index data existed to mark its docs as seen), so the caller
    folds them into its running set.

    Per-batch jobs: ONE pre-flight agg over the cached banded frame
    (NULL-key guard + distinct touched buckets via a num_buckets-
    bounded collect_set — the same shape as scd2_merge_batch's
    pre-flight), then the probe join + write only when prior index
    data overlaps. NULL doc_ids are rejected loudly (like the SCD2
    NULL natural-key guard) and NEVER written: xxhash64(NULL) returns
    the seed, so a NULL would land in an ordinary numeric bucket — the
    problem is the dedup probe, whose NULL join key never equals
    anything, so an indexed NULL-doc row would re-append on every
    redelivery. The guard sees NULLs pre-filter (Observation on the
    virgin path, pre-flight agg on the overlap path), the write
    commits only non-NULL rows, and the raise fails the batch.

    Join shape: the batch is small; its distinct doc_ids broadcast into
    a semi-filter of the touched index slice, and the surviving
    already-indexed ids (batch-bounded) broadcast back into the
    anti-join. No shuffle, no full-index broadcast."""
    from pyspark.storagelevel import StorageLevel

    from pyspark_etl_project_spark.extensions.dedup import (
        _rows_per_band, banded_frame)
    from pyspark_etl_project_spark.operators.scd2 import (
        _check_bucket_layout, mart_bucket)

    if rows_per_band is None:
        rows_per_band = _rows_per_band(num_hashes, num_bands)
    spark = batch.sparkSession
    if existing_buckets is None:
        # Runs BEFORE the persist so a refused batch doesn't leak a
        # pinned plan in the cache manager.
        existing_buckets = _check_bucket_layout(
            spark, bands_path, None, num_buckets, DOC_BUCKET_COL)
    # A maxFilesPerTrigger=1 micro-batch is ONE file = one partition,
    # which would run the whole shingle→minhash compute (8 md5 lanes
    # per shingle — the batch's dominant CPU cost) on a single core.
    # Spread it first: the shuffle moves one micro-batch of raw text —
    # trivial next to serializing the banding. Skipped when the source
    # already delivers enough splits (a real Kafka/file batch at scale).
    par = spark.sparkContext.defaultParallelism
    if batch.rdd.getNumPartitions() < par:
        batch = batch.repartition(par)
    # Same deterministic bucketing construction as the mart — shared,
    # not re-derived, so the two cannot drift.
    doc_bucket = mart_bucket("doc_id", num_buckets)
    banded = (banded_frame(batch, "doc_id", "text", num_hashes,
                           num_bands, shingle_n, rows_per_band)
              .select("doc_id", "band_id", "band_hash",
                      doc_bucket.alias(DOC_BUCKET_COL)))
    # NB: a NULL doc_id does NOT hash to a null bucket —
    # xxhash64(NULL) returns the seed, so mart_bucket lands NULLs in a
    # perfectly ordinary numeric bucket. The reason NULLs must be
    # rejected is the dedup probe: a NULL join key never equals
    # anything, so an indexed NULL-doc row could never be matched by
    # the already-indexed anti-join and would re-append on every
    # redelivery — and no downstream consumer can address it either.
    _null_guard_msg = (
        "band_index_batch: batch contains NULL doc_id rows; a NULL "
        "key can never match the dedup probe (it would re-append on "
        "every redelivery) — filter or repair them upstream")
    if not existing_buckets:
        # Virgin/no-overlap index: nothing to probe, so the whole batch
        # is ONE Spark job — the write itself, with the admission facts
        # (NULL-key flag + touched buckets) computed as an Observation
        # riding the write instead of a separate pre-flight pass (and
        # no persist: the banded frame is consumed exactly once). The
        # observation is attached BEFORE the NULL filter, so it sees
        # any NULL-doc rows, while the write itself never commits them
        # — the index stays clean, the batch's valid docs stay fully
        # indexed, and the raise below still fails the batch loudly
        # (a post-repair redelivery dedupes the valid docs out).
        from pyspark.sql import Observation

        obs = Observation()
        _write_bands(
            banded.observe(obs,
                           F.max(F.col("doc_id").isNull()).alias("has_null"),
                           F.collect_set(F.col(DOC_BUCKET_COL)).alias("bs"))
                  .filter(F.col("doc_id").isNotNull()),
            bands_path, num_buckets)
        try:
            vals = obs.get
        except Exception:  # noqa: BLE001
            # The write COMMITTED (we're past _write_bands) but the
            # observation has no row: a zero-row frame plans to zero
            # tasks under AQE, so CollectMetrics never fires. Zero
            # tasks == zero rows — the empty-batch outcome.
            return set()
        if vals["has_null"]:
            raise ValueError(_null_guard_msg)
        return set(vals["bs"])
    banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # ONE pre-flight job computes both admission facts: whether any
        # NULL doc_id banded (collect_set skips NULLs, so the explicit
        # max-isNull flag is the only visibility), and the distinct
        # touched buckets (bounded by num_buckets — constant-size
        # collect).
        pre = banded.agg(
            F.max(F.col("doc_id").isNull()).alias("has_null"),
            F.collect_set(F.col(DOC_BUCKET_COL)).alias("bs")).first()
        if pre["has_null"]:
            raise ValueError(_null_guard_msg)
        touched = set(pre["bs"])
        # Banded to nothing (empty batch / all-empty texts): no write,
        # no probe.
        if not touched:
            return touched
        # Dir paths are glob-ESCAPED for the read: Spark glob-expands
        # reader paths, so an index path containing { } [ ] * ? would
        # otherwise mis-resolve (same hazard read_mart_touched guards).
        from pyspark_etl_project_spark.operators.fs import escape_glob

        dirs = [escape_glob(f"{bands_path}/{DOC_BUCKET_COL}={b}")
                for b in sorted(touched & existing_buckets)]
        if dirs:
            arriving = banded.select("doc_id").distinct()
            idx_slice = (spark.read.option("basePath", bands_path)
                         .parquet(*dirs).select("doc_id"))
            seen = (idx_slice
                    .join(F.broadcast(arriving), "doc_id", "left_semi")
                    .distinct())
            fresh = banded.join(F.broadcast(seen), "doc_id", "left_anti")
            # No separate emptiness probe: the write executes the
            # probe join exactly once (an isEmpty pre-check would run
            # the same join a second time on every NON-retry batch —
            # the common case — to save only a zero-row partitioned
            # append on retries, which commits no files and changes
            # nothing a reader sees).
            _write_bands(fresh, bands_path, num_buckets)
        else:
            _write_bands(banded, bands_path, num_buckets)
        return touched
    finally:
        banded.unpersist()


def _write_bands(bands: DataFrame, bands_path: str,
                 num_buckets: int) -> None:
    """Partitioned append with ONE file per touched bucket per batch:
    without the hash repartition on the partition column, every task
    holding rows of a bucket writes its own file there — tasks ×
    buckets small files per micro-batch, which both slows this write
    and makes every downstream read (and the next batch's probe)
    re-list an ever-growing file census. The shuffle moved is one
    micro-batch of band rows — trivial; the reducer count is the
    SMALLER of num_buckets and the session's shuffle parallelism
    (hash-clustering several buckets per task still writes one file
    per bucket dir — partitionBy splits by value within the task —
    while a plain repartition(num_buckets) at a 1024+-bucket index
    would schedule a thousand near-empty reducers per micro-batch)."""
    conf = bands.sparkSession.conf
    try:
        shuffle_par = int(conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # e.g. "auto" on some deployments
        shuffle_par = bands.sparkSession.sparkContext.defaultParallelism
    n = min(num_buckets, shuffle_par)
    (bands.repartition(n, F.col(DOC_BUCKET_COL))
     .write.mode("append").partitionBy(DOC_BUCKET_COL)
     .parquet(bands_path))


def foreach_batch_band_index(stream: DataFrame, bands_path: str,
                             num_hashes: int = 8, num_bands: int = 4,
                             shingle_n: int = 3,
                             num_buckets: int = 16) -> None:
    """Continuous near-dup index maintenance: every micro-batch's docs
    are banded (shingle → minhash → LSH buckets) and APPENDED to the
    persistent (doc_id, band_id, band_hash) index — the always-on
    ingestion half of the daily-increment dedup
    (extensions/dedup.py:incremental_minhash_dedup). Verdicts are
    computed from the accumulated index AFTER the drain so the result
    is invariant to how the source splits batches (the file source's
    batch order is not contractual); the per-batch work is a pure
    map + explode + an idempotent append (band_index_batch — a
    redelivered batch appends nothing), no state store needed.

    The index layout is listed + guarded ONCE here at stream start
    (the mirror of foreach_batch_scd2's check_layout hoist): this run
    owns the index for its duration, and every batch's writes are the
    only layout changes — so the bucket-dir set is maintained
    in-memory across batches instead of re-listed per micro-batch
    (the FS listing + its guard were the dominant per-batch fixed
    cost at small batch sizes)."""
    from pyspark_etl_project_spark.extensions.dedup import _rows_per_band
    from pyspark_etl_project_spark.operators.scd2 import _check_bucket_layout

    # Same divisibility guard as every batch-side banding site: a plain
    # floor division here would silently drop trailing MinHash positions
    # and desync this stream-built index from the batch-built index it
    # must join against.
    rows_per_band = _rows_per_band(num_hashes, num_bands)
    existing = _check_bucket_layout(stream.sparkSession, bands_path, None,
                                    num_buckets, DOC_BUCKET_COL)

    def handle(batch: DataFrame, _epoch: int) -> None:
        existing.update(band_index_batch(
            batch, bands_path, num_hashes=num_hashes,
            num_bands=num_bands, shingle_n=shingle_n,
            rows_per_band=rows_per_band, num_buckets=num_buckets,
            existing_buckets=set(existing)))

    q = stream.writeStream.foreachBatch(handle).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def compact_band_index(spark: SparkSession, bands_path: str,
                       num_buckets: int = 16,
                       files_per_bucket: int = 1,
                       parallelism: int = 4) -> int:
    """Retention/compaction maintenance for the streaming band index:
    rewrite each DOC_BUCKET partition down to ``files_per_bucket``
    files. The sink appends one file per touched bucket per micro-batch
    FOREVER — over a stream's lifetime the file census, not data
    volume, comes to dominate both the per-batch dedup probe and every
    downstream read (the same small-files decay compact_small_files
    fixes for the mart). Returns the total post-compaction file count.

    Honors the index contract end-to-end: the same layout guard as the
    write path runs first (foreign/flat layouts refuse with the rebuild
    message — including the _compacting/_precompact staging dirs a
    CRASHED compaction leaves behind, which is the desired fail-fast:
    compact_small_files documents the stale-backup trap), each bucket
    dir is rewritten through the staged read-aside-swap of
    compact_small_files (never in place), and rows/verdicts are
    byte-identical after — only file boundaries move, which
    tests/test_pipelines.py and the gated oracle twin
    (streaming_band_index_compacted) pin.

    Buckets compact independently, so the sweep submits up to
    ``parallelism`` per-bucket rewrite jobs concurrently from driver
    threads (SparkSession job submission is thread-safe; each tiny
    bucket job alone cannot fill the cluster, and a 1024-bucket index
    compacted strictly serially would spend the sweep waiting on
    per-job scheduling latency). Per-bucket cost is one read+write of
    that bucket's rows; any failure propagates after in-flight buckets
    finish — already-swapped buckets stay compacted (idempotent to
    re-run), the failed bucket's staging/backup dirs refuse loudly on
    the next attempt. Run it BETWEEN streaming runs, not concurrently
    with an active foreachBatch writer: the swap window is non-atomic
    on object stores and the writer's in-memory bucket-dir set does
    not expect dirs to vanish mid-run."""
    from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

    from pyspark_etl_project_spark.operators.joins import compact_small_files
    from pyspark_etl_project_spark.operators.scd2 import _check_bucket_layout

    buckets = sorted(_check_bucket_layout(spark, bands_path, None,
                                          num_buckets, DOC_BUCKET_COL))
    if not buckets:
        return 0
    workers = max(1, min(parallelism, len(buckets)))
    # Fail FAST: on the first bucket failure, queued (not-yet-started)
    # buckets are cancelled so a 1024-bucket sweep doesn't run to
    # completion before surfacing e.g. a stale-backup refusal; only
    # the ≤`parallelism` in-flight rewrites finish. Already-swapped
    # buckets stay compacted — the sweep is idempotent to re-run.
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = [pool.submit(compact_small_files, spark,
                               f"{bands_path}/{DOC_BUCKET_COL}={b}",
                               files_per_bucket)
                   for b in buckets]
        done, not_done = wait(futures, return_when=FIRST_EXCEPTION)
        failed = next((f for f in done if f.exception() is not None), None)
        if failed is not None:
            for f in not_done:
                f.cancel()
            raise failed.exception()
        return sum(f.result() for f in futures)


def kmv_batch(batch: DataFrame, store_path: str,
              k: int = 64, salt: str = "kmv-v1") -> None:
    """One micro-batch of KMV-sketch maintenance: append the batch's k
    smallest distinct trigram hashes to the store. Module-level so
    redelivery is directly testable (calling twice with the same batch
    must not move the store's k-th distinct minimum)."""
    from pyspark_etl_project_spark.extensions.text import word_ngrams
    from pyspark_etl_project_spark.operators.stats import kmv_value_hash

    hashed = (batch
              .select(F.explode(word_ngrams(F.col("text"), 3))
                      .alias("v"))
              .distinct()
              .select(kmv_value_hash(F.col("v"), salt).alias("h")))
    # k smallest DISTINCT hashes via distinct+orderBy+limit →
    # TakeOrderedAndProject (per-partition k-heaps, then a
    # k-bounded driver merge) — the batch's distinct-hash set is
    # corpus-sized, so a row_number over an UNPARTITIONED window
    # here would funnel every hash through one task just to keep k
    # of them. The distinct matters for the merge contract: a
    # 48-bit value collision inside the cut would otherwise let a
    # duplicate h crowd out the batch's k-th distinct minimum,
    # which no downstream dedup can recover (stats.py invariant:
    # every KMV arm dedupes on the hash).
    topk = hashed.distinct().orderBy("h").limit(k)
    topk.write.mode("append").parquet(store_path)


def compact_kmv_store(spark: SparkSession, store_path: str,
                      k: int = 64) -> int:
    """Fold the KMV sketch store to its k smallest DISTINCT hashes in
    ONE file — the maintenance pass for the one unbounded thing the
    sink leaves behind: every micro-batch appends a ≤k-row FILE, so
    rows stay bounded (≤ k per delivery) but the file census grows
    with batch count forever. The fold is LOSSLESS for the estimator:
    min-k is associative, so the k smallest distinct of the union
    (which is exactly what every consumer computes — the stats.py
    hash-dedup invariant) equals the k smallest distinct of any
    superset that contains them. The store is swapped through the same
    staged rewrite as compact_small_files (fs.staged_rewrite: write
    aside, rename swap, stale-backup refusal before the read).
    Returns the post-fold file count (1). Run between streaming runs,
    like every maintenance pass here."""
    from pyspark_etl_project_spark.operators.fs import (
        escape_glob, staged_rewrite)

    # Reader path glob-escaped, same as every other maintenance read.
    staged_rewrite(spark, store_path, lambda: (
        spark.read.parquet(escape_glob(store_path))
        .distinct().orderBy("h").limit(k).coalesce(1)))
    return 1


def foreach_batch_kmv(stream: DataFrame, store_path: str,
                      k: int = 64, salt: str = "kmv-v1") -> None:
    """Streaming cardinality-sketch maintenance: per micro-batch the
    documents' distinct trigram hashes are reduced to the batch's k
    SMALLEST 48-bit md5 values and appended to the sketch store — so
    state grows by at most k rows per batch regardless of batch size,
    and because min-k is associative and commutative the final global
    k-th minimum is EXACTLY the batch-mode KMV over the union of all
    batches, no matter how the source split them. The estimator stays
    the integer (k-1)*2^48 div h_k of the batch operator
    (extensions/text.py:kmv_distinct_sketch).

    Redelivery note: an at-least-once retry re-appends the SAME k
    hashes — duplicate rows in the store, but every consumer cuts
    DISTINCT before ranking (the stats.py invariant), so the k-th
    distinct minimum and the estimate are unchanged. The sink is
    idempotent at the estimator level without reading the store back
    per batch (store growth stays bounded: ≤ k rows per delivery)."""

    def handle(batch: DataFrame, _epoch: int) -> None:
        kmv_batch(batch, store_path, k=k, salt=salt)

    q = stream.writeStream.foreachBatch(handle).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
