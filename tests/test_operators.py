"""Unit tests for the core operators (SURVEY.md §2 semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pyspark_etl_project_spark.operators.audit import load_audit_metrics
from pyspark_etl_project_spark.operators.cdc import cdc_classify
from pyspark_etl_project_spark.operators.dedup import keep_latest
from pyspark_etl_project_spark.operators.lookup import lookup_join, prepare_dimension
from pyspark_etl_project_spark.operators.scd2 import scd2_merge
from pyspark_etl_project_spark.operators.watermark import latest_version_per_key, max_watermark


def test_keep_latest_window_and_maxby(spark):
    df = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "c")], "k int, ord int, v string")
    for use_max_by in (False, True):
        out = {r["k"]: r["v"] for r in
               keep_latest(df, "k", "ord", use_max_by=use_max_by).collect()}
        assert out == {1: "b", 2: "c"}


def test_cdc_classify_routes(spark):
    batch = spark.createDataFrame(
        [("k1", "h1"), ("k2", "h2x"), ("k3", "h3")],
        "SOURCE_SYSTEM_IDENTIFIER string, SOURCE_HASH_KEY string")
    hist = spark.createDataFrame(
        [("k1", "h1"), ("k2", "h2")], "HISTORIC_SSI string, HISTORIC_HASHKEY string")
    routed = cdc_classify(batch, hist, drop_duplicates=False)
    groups = {r["SOURCE_SYSTEM_IDENTIFIER"]: r["ROUTER_GROUP"] for r in routed.collect()}
    assert groups == {"k1": "DUPLICATE", "k2": "UPDATE", "k3": "INSERT"}
    kept = cdc_classify(batch, hist, drop_duplicates=True)
    assert {r["SOURCE_SYSTEM_IDENTIFIER"] for r in kept.collect()} == {"k2", "k3"}


def test_scd2_merge_invariants(spark):
    mart = spark.createDataFrame(
        [(1, "A", "v1", 1, "2020-01-01 00:00:00", "2099-12-31 00:00:00"),
         (2, "B", "v1", 1, "2020-01-01 00:00:00", "2099-12-31 00:00:00")],
        "CSD_ID long, SOURCE_SYSTEM_IDENTIFIER string, val string, "
        "ACTIVE_FLAG int, START_DATE string, END_DATE string") \
        .withColumn("START_DATE", F.col("START_DATE").cast("timestamp")) \
        .withColumn("END_DATE", F.col("END_DATE").cast("timestamp"))
    arrivals = spark.createDataFrame(
        [("A", "v2"), ("C", "v1")], "SOURCE_SYSTEM_IDENTIFIER string, val string")
    out = scd2_merge(mart, arrivals, run_ts="2024-01-01 00:00:00", dense_ids=True)
    rows = out.collect()
    assert len(rows) == 4  # B survivor, A expired, A v2, C v1
    active = [r for r in rows if r["ACTIVE_FLAG"] == 1]
    # invariant 1: exactly one active row per key
    assert sorted(r["SOURCE_SYSTEM_IDENTIFIER"] for r in active) == ["A", "B", "C"]
    # invariant 2: expired END_DATE == successor START_DATE
    expired_a = next(r for r in rows if r["ACTIVE_FLAG"] == 0)
    new_a = next(r for r in active if r["SOURCE_SYSTEM_IDENTIFIER"] == "A")
    assert expired_a["END_DATE"] == new_a["START_DATE"]
    assert new_a["val"] == "v2"
    # surrogate ids continue past the old max
    assert {r["CSD_ID"] for r in rows if r["START_DATE"] == new_a["START_DATE"]} == {3, 4}


def test_scd2_merge_idempotent_keys_never_double_active(spark):
    mart = spark.createDataFrame(
        [(1, "A", "v1", 1, "2020-01-01 00:00:00", "2099-12-31 00:00:00")],
        "CSD_ID long, SOURCE_SYSTEM_IDENTIFIER string, val string, "
        "ACTIVE_FLAG int, START_DATE string, END_DATE string") \
        .withColumn("START_DATE", F.col("START_DATE").cast("timestamp")) \
        .withColumn("END_DATE", F.col("END_DATE").cast("timestamp"))
    arrivals = spark.createDataFrame([("A", "v2")],
                                     "SOURCE_SYSTEM_IDENTIFIER string, val string")
    once = scd2_merge(mart, arrivals, run_ts="2024-01-01 00:00:00", dense_ids=True)
    twice = scd2_merge(once, arrivals.withColumn("val", F.lit("v3")),
                       run_ts="2024-02-01 00:00:00", dense_ids=True)
    rows = twice.collect()
    actives = [r for r in rows if r["ACTIVE_FLAG"] == 1]
    assert len(actives) == 1 and actives[0]["val"] == "v3"
    assert len(rows) == 3  # full history preserved


def test_prepare_dimension_collapses_duplicates(spark):
    dim = spark.createDataFrame(
        [(1, "X", 1, "2020-01-01"), (2, "X", 1, "2021-01-01"),
         (3, "X", 0, "2022-01-01"), (4, "Y", 1, "2020-01-01")],
        "ID int, NAME string, ACTIVE_FLAG int, START_DATE string") \
        .withColumn("START_DATE", F.col("START_DATE").cast("timestamp"))
    prepared = prepare_dimension(dim, key_col="NAME", id_col="ID")
    out = {r["NAME"]: r["ID"] for r in prepared.collect()}
    # newest active START_DATE wins; inactive id=3 ignored
    assert out == {"X": 2, "Y": 4}


def test_lookup_join_miss_is_null(spark):
    fact = spark.createDataFrame([("X",), ("Z",)], "NAME string")
    prepared = spark.createDataFrame([("X", 7)], "NAME string, ID int")
    out = lookup_join(fact, prepared, "NAME", "NAME", "ID", "DIM_ID")
    got = {r["NAME"]: r["DIM_ID"] for r in out.collect()}
    assert got == {"X": 7, "Z": None}


def test_watermark_and_latest_version(spark):
    df = spark.createDataFrame(
        [(1, 100, "a"), (1, 101, "b"), (2, 50, "c"), (2, 200, "d")],
        "key int, ver int, v string")
    assert max_watermark(df, "ver") == 200
    out = latest_version_per_key(df, key="key", version_col="ver",
                                 watermark=60, watermark_col="ver")
    got = {r["key"]: r["v"] for r in out.collect()}
    assert got == {1: "b", 2: "d"}  # key 2's ver=50 filtered by watermark


def test_load_audit_metrics(spark):
    df = spark.createDataFrame([(1,), (1,), (0,), (1,)], "IS_VALID_DATA int")
    row = load_audit_metrics(df).first()
    assert row["TOTAL_UPSERT_COUNT"] == 4
    assert row["VALID_COUNT"] == 3
    assert row["INVALID_COUNT"] == 1
    assert row["DATA_VALID_PERCENTAGE"] == 75.0


def test_dense_row_number_matches_global_window(spark):
    from pyspark_etl_project_spark.operators.scd2 import dense_row_number

    rows = [(f"key-{i:04d}", i * 3 % 97) for i in range(500)]
    df = spark.createDataFrame(rows, "k string, v int").repartition(8)
    out = dense_row_number(df, ["k"], "rid", offset=100, num_partitions=6)
    got = {r["k"]: r["rid"] for r in out.collect()}
    expect = {k: 101 + i for i, (k, _) in enumerate(sorted(rows))}
    assert got == expect


def test_dense_row_number_empty(spark):
    from pyspark_etl_project_spark.operators.scd2 import dense_row_number

    df = spark.createDataFrame([], "k string")
    assert dense_row_number(df, ["k"], "rid").count() == 0


def test_asof_join_directions(spark):
    from pyspark_etl_project_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 12:00:00"),
         (2, "2024-01-01 09:00:00")], "k int, lts string")
    right = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 100), (1, "2024-01-01 11:00:00", 200),
         (2, "2024-01-01 09:30:00", 300)], "k int, rts string, payload int")
    back = asof_join(left, right, on="k", left_ts="lts", right_ts="rts",
                     right_cols=["payload"], direction="backward")
    got = {(r["k"], r["lts"]): r["payload"] for r in back.collect()}
    # equal timestamps match (10:00 -> 100); no prior right -> null
    assert got == {(1, "2024-01-01 10:00:00"): 100,
                   (1, "2024-01-01 12:00:00"): 200,
                   (2, "2024-01-01 09:00:00"): None}
    fwd = asof_join(left, right, on="k", left_ts="lts", right_ts="rts",
                    right_cols=["payload"], direction="forward")
    got = {(r["k"], r["lts"]): r["payload"] for r in fwd.collect()}
    assert got == {(1, "2024-01-01 10:00:00"): 100,
                   (1, "2024-01-01 12:00:00"): None,
                   (2, "2024-01-01 09:00:00"): 300}


def test_range_join_boundaries(spark):
    from pyspark_etl_project_spark.operators.joins import range_join

    pts = spark.createDataFrame([(0,), (9,), (10,), (63,), (64,), (100,)],
                                "p long")
    iv = spark.createDataFrame([(10, 64, "a"), (0, 10, "b")],
                               "s long, e long, tag string")
    out = range_join(pts, iv, point="p", start="s", end="e", bucket_width=16)
    got = sorted((r["p"], r["tag"]) for r in out.collect())
    # [s, e): start inclusive, end exclusive, even across bucket edges
    assert got == [(0, "b"), (9, "b"), (10, "a"), (63, "a")]


def test_salted_agg_equals_plain_groupby(spark):
    from pyspark_etl_project_spark.operators.joins import salted_agg

    # one hot key (900 rows) + a long tail
    rows = [("hot", i) for i in range(900)] + [(f"k{i}", i) for i in range(50)]
    df = spark.createDataFrame(rows, "k string, v long")
    got = {r["k"]: (r["v_sum"], r["n"], r["v_max"]) for r in
           salted_agg(df, "k", [("v", "sum", "v_sum"), ("v", "count", "n"),
                                ("v", "max", "v_max")], num_salts=8).collect()}
    plain = {r["k"]: (r["s"], r["c"], r["m"]) for r in
             df.groupBy("k").agg(F.sum("v").alias("s"), F.count("v").alias("c"),
                                 F.max("v").alias("m")).collect()}
    assert got == plain


def test_salted_join_matches_plain_join(spark):
    from pyspark_etl_project_spark.operators.joins import salted_join

    big = spark.createDataFrame(
        [("hot", i) for i in range(500)] + [(f"k{i}", i) for i in range(20)],
        "k string, v long")
    small = spark.createDataFrame(
        [("hot", "H"), ("k3", "A"), ("missing", "Z")], "k string, tag string")
    got = sorted((r["k"], r["v"], r["tag"])
                 for r in salted_join(big, small, "k", num_salts=4).collect())
    plain = sorted((r["k"], r["v"], r["tag"])
                   for r in big.join(small, "k").collect())
    assert got == plain
    left = salted_join(big, small, "k", num_salts=4, how="left")
    assert left.count() == big.count()


def test_watermark_persistence_roundtrip(spark, tmp_path):
    from pyspark_etl_project_spark.operators.watermark import (
        read_watermark,
        save_watermark,
    )

    p = str(tmp_path / "wm")
    assert read_watermark(spark, p, "csv") is None
    save_watermark(spark, p, "csv", 100)
    save_watermark(spark, p, "xml", 7)
    save_watermark(spark, p, "csv", 250)       # advance
    assert read_watermark(spark, p, "csv") == 250
    assert read_watermark(spark, p, "xml") == 7


def test_compact_small_files_preserves_data(spark, tmp_path):
    from pyspark_etl_project_spark.operators.joins import compact_small_files

    p = str(tmp_path / "sink")
    df = spark.range(0, 1000).select("id", (F.col("id") * 2).alias("v"))
    df.repartition(24).write.parquet(p)          # 24 small files
    import glob
    import os
    assert len(glob.glob(os.path.join(p, "part-*.parquet"))) == 24
    n = compact_small_files(spark, p, target_files=3)
    assert n == 3
    back = spark.read.parquet(p)
    assert back.count() == 1000
    assert back.agg(F.sum("v")).first()[0] == 999 * 1000

    # A stale backup dir from a crashed run must abort the compaction
    # (HDFS rename would otherwise nest the live data inside it and the
    # cleanup would delete it) — and leave the input untouched.
    import pytest
    os.makedirs(p + "_precompact")
    with pytest.raises(Exception, match="stale backup"):
        compact_small_files(spark, p, target_files=2)
    assert spark.read.parquet(p).count() == 1000


def test_scd2_surrogate_offset_skips_mart_scan(spark):
    """With a persisted high-water surrogate passed in, the merge must
    (a) continue ids from it and (b) never run the MAX(CSD_ID) agg over
    the mart — asserted by counting Spark jobs triggered at plan-build
    time (the offset fallback is a driver-side .first() action)."""
    mart = spark.createDataFrame(
        [(7, "A", "v1", 1, "2020-01-01 00:00:00", "2099-12-31 00:00:00")],
        "CSD_ID long, SOURCE_SYSTEM_IDENTIFIER string, val string, "
        "ACTIVE_FLAG int, START_DATE string, END_DATE string") \
        .withColumn("START_DATE", F.col("START_DATE").cast("timestamp")) \
        .withColumn("END_DATE", F.col("END_DATE").cast("timestamp"))
    arrivals = spark.createDataFrame(
        [("B", "v1")], "SOURCE_SYSTEM_IDENTIFIER string, val string")

    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    out = scd2_merge(mart, arrivals, run_ts="2024-01-01 00:00:00",
                     dense_ids=False, surrogate_offset=7, cache_arrivals=False)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "plan build must trigger no jobs with offset given"

    rows = out.collect()
    new_b = next(r for r in rows if r["SOURCE_SYSTEM_IDENTIFIER"] == "B")
    assert new_b["CSD_ID"] >= 8  # continues past the persisted high-water


def test_surrogate_hwm_watermark_roundtrip(spark, tmp_path):
    from pyspark_etl_project_spark.operators.watermark import (
        read_surrogate_hwm,
        read_watermark,
        save_surrogate_hwm,
        save_watermark,
    )

    p = str(tmp_path / "wm")
    assert read_surrogate_hwm(spark, p, "csv") is None
    save_watermark(spark, p, "csv", 500)          # record-id watermark
    save_surrogate_hwm(spark, p, "csv", 1234)     # surrogate high-water
    assert read_surrogate_hwm(spark, p, "csv") == 1234
    assert read_watermark(spark, p, "csv") == 500  # keys don't collide
    save_surrogate_hwm(spark, p, "csv", 2000)
    assert read_surrogate_hwm(spark, p, "csv") == 2000


def test_read_evolved_schema_merge(spark, tmp_path):
    from pyspark_etl_project_spark.sources.parquet_source import read_evolved

    v1 = str(tmp_path / "v1")
    v2 = str(tmp_path / "v2")
    spark.createDataFrame([(1, "a")], "id long, name string") \
        .write.parquet(v1)
    spark.createDataFrame([(2, "b", 9.5)], "id long, name string, score double") \
        .write.parquet(v2)

    merged = read_evolved(spark, v1, v2)
    rows = {r["id"]: (r["name"], r["score"]) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}  # old rows NULL-fill

    pinned = read_evolved(spark, v1, v2,
                          expect_schema="id long, name string, score double, "
                                        "extra int")
    r1 = {r["id"]: r["extra"] for r in pinned.collect()}
    assert r1 == {1: None, 2: None}  # never-written column NULL-fills

    import pytest as _pytest
    with _pytest.raises(ValueError, match="unexpected columns"):
        read_evolved(spark, v2, expect_schema="id long, name string")


def test_watermark_store_is_source_partitioned_and_migrates(spark, tmp_path):
    """A watermark advance must rewrite only that source's partition
    (O(1) in the number of sources) and prune the one-source read at
    file listing."""
    import os
    import re

    from pyspark_etl_project_spark.operators.watermark import (
        read_watermark,
        read_watermarks,
        save_watermark,
    )

    p = str(tmp_path / "wm")
    save_watermark(spark, p, "xml", 7)
    save_watermark(spark, p, "csv", 250)
    assert read_watermark(spark, p, "csv") == 250
    assert read_watermark(spark, p, "xml") == 7
    entries = os.listdir(p)
    assert any(e.startswith("source=") for e in entries)
    assert not any(e.endswith(".parquet") for e in entries)

    # An unrelated advance must leave the other source's partition
    # directory byte-identical (dynamic overwrite touches one dir).
    xml_dir = os.path.join(p, "source=xml")
    before = sorted(os.listdir(xml_dir))
    save_watermark(spark, p, "csv", 300)
    assert sorted(os.listdir(xml_dir)) == before
    assert read_watermark(spark, p, "csv") == 300

    # One-source read prunes at listing: PartitionFilters on source.
    df = read_watermarks(spark, p).filter(F.col("source") == "csv")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "source" in pf.group(1), plan


def test_asof_snapshot_boundary_semantics(spark):
    """AS OF exactly at a load boundary sees the POST-load state
    (START inclusive, END exclusive), and the snapshot presents the
    contemporaneous open end/flag, not the future expiry stamp."""
    from pyspark_etl_project_spark.operators.scd2 import asof_snapshot

    rows = [
        # key A: v1 expired at T2, v2 open
        (1, "A", 0, "2024-01-01 00:00:00", "2024-02-01 00:00:00"),
        (2, "A", 1, "2024-02-01 00:00:00", "2099-12-31 00:00:00"),
        # key B: single open version
        (3, "B", 1, "2024-01-15 00:00:00", "2099-12-31 00:00:00"),
    ]
    mart = spark.createDataFrame(
        rows, "csd_id long, ssi string, ACTIVE_FLAG int, sd string, ed string"
    ).select("csd_id", "ssi", "ACTIVE_FLAG",
             F.col("sd").cast("timestamp").alias("START_DATE"),
             F.col("ed").cast("timestamp").alias("END_DATE"))

    def snap_ids(ts):
        return {(r["csd_id"], r["ACTIVE_FLAG"], str(r["END_DATE"]))
                for r in asof_snapshot(mart, ts).collect()}

    # mid-January: v1 of A (presented open) + B
    assert snap_ids("2024-01-20 00:00:00") == {
        (1, 1, "2099-12-31 00:00:00"), (3, 1, "2099-12-31 00:00:00")}
    # exactly at the T2 boundary: v2 replaces v1
    assert snap_ids("2024-02-01 00:00:00") == {
        (2, 1, "2099-12-31 00:00:00"), (3, 1, "2099-12-31 00:00:00")}
    # before any load: empty
    assert snap_ids("2023-12-31 00:00:00") == set()


def test_asof_join_null_payload_cell_travels_with_its_row(spark):
    """The matched right row travels as ONE struct: a NULL cell in the
    matching row stays NULL in the output instead of falling back to
    an older right row's value for that column (per-column ignorenulls
    carry would emit the composite (5, 7) here — a row that never
    existed)."""
    from pyspark_etl_project_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, "2024-01-01 03:00:00")],
                                 "k int, lts string")
    right = spark.createDataFrame(
        [(1, "2024-01-01 01:00:00", 5, 9),
         (1, "2024-01-01 02:00:00", None, 7)],
        "k int, rts string, a int, b int")
    out = asof_join(left, right, on="k", left_ts="lts", right_ts="rts",
                    right_cols=["a", "b"], direction="backward").collect()
    assert len(out) == 1
    assert out[0]["a"] is None and out[0]["b"] == 7


def test_scd2_merge_preserves_null_active_flag_rows(spark):
    """A mart row with NULL ACTIVE_FLAG (legacy/corrupt load) must
    survive the merge in the inactive branch — a bare `!= 1` filter
    evaluates NULL and silently drops it from the rewritten mart."""
    schema = ("CSD_ID long, SOURCE_ID int, SOURCE_SYSTEM_IDENTIFIER "
              "string, V string, ACTIVE_FLAG int, START_DATE timestamp, "
              "END_DATE timestamp")
    t = "2024-01-01 00:00:00"
    mart = spark.createDataFrame(
        [(1, 1, "k1", "v", 1, None, None),
         (2, 1, "k2", "v", None, None, None)], schema)
    # Arrivals carry mart columns minus the surrogate/flag/stamps —
    # exactly what scd2_merge's contract asks for.
    arrivals = spark.createDataFrame(
        [(1, "k1", "v2")],
        "SOURCE_ID int, SOURCE_SYSTEM_IDENTIFIER string, V string")
    merged = scd2_merge(mart, arrivals, run_ts=t, cache_arrivals=False)
    flags = {(r["SOURCE_SYSTEM_IDENTIFIER"], r["ACTIVE_FLAG"])
             for r in merged.collect()}
    assert ("k2", None) in flags          # NULL-flag row preserved
    assert ("k1", 0) in flags and ("k1", 1) in flags


def test_cdc_classify_null_hash_is_duplicate_not_update(spark):
    """NULL<=>NULL hash compare routes an unchanged row DUPLICATE; a
    bare == would yield NULL, skip the branch, and re-classify the row
    UPDATE on every load (unbounded spurious history)."""
    from pyspark_etl_project_spark.operators.cdc import cdc_classify

    batch = spark.createDataFrame(
        [("k1", None), ("k2", "h2")],
        "SOURCE_SYSTEM_IDENTIFIER string, SOURCE_HASH_KEY string")
    hist = spark.createDataFrame(
        [("k1", None), ("k2", "h2x")],
        "HISTORIC_SSI string, HISTORIC_HASHKEY string")
    out = {r["SOURCE_SYSTEM_IDENTIFIER"]: r["ROUTER_GROUP"] for r in
           cdc_classify(batch, hist, drop_duplicates=False).collect()}
    assert out == {"k1": "DUPLICATE", "k2": "UPDATE"}


def test_partial_agg_rejects_fractional_sum(spark):
    """'sum' partials are stored as longs; a fractional input column
    would truncate a little more state on every batch, so it is
    rejected up front (quantize to integer cents first)."""
    import pytest as _pytest

    from pyspark_etl_project_spark.operators.incremental import (
        partial_agg)
    df = spark.createDataFrame([("a", 1.5)], "k string, v double")
    with _pytest.raises(ValueError, match="non-integral"):
        partial_agg(df, ["k"], {"s": ("sum", "v")})
    ok = spark.createDataFrame([("a", 2)], "k string, v long")
    assert partial_agg(ok, ["k"], {"s": ("sum", "v")}).collect()[0]["s"] == 2


def test_compact_small_files_preserves_evolved_column(spark, tmp_path):
    """An append-accumulated sink dir can hold files of differing
    vintage (a later deploy added a column). The in-place swap REPLACES
    the input, so the compaction read must carry the column UNION — a
    single-footer read would silently delete the late-added column
    (round-13-found, the vacuum/merge bug class on the compaction
    path)."""
    from pyspark_etl_project_spark.operators.joins import (
        compact_small_files)

    p = str(tmp_path / "sink")
    spark.range(0, 50).select("id").repartition(4) \
        .write.mode("append").parquet(p)
    spark.createDataFrame([(100, "late")], "id long, note string") \
        .write.mode("append").parquet(p)

    assert compact_small_files(spark, p, target_files=2) == 2
    back = spark.read.parquet(p)
    assert set(back.columns) == {"id", "note"}
    assert back.count() == 51
    assert [r["note"] for r in
            back.filter(F.col("id") == 100).collect()] == ["late"]
