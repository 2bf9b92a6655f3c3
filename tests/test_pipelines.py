"""Golden-fixture ETL tests (SURVEY.md §5): deterministic mini-feeds per
source, hand-computed expected mart states across load sequences,
asserting the FIXTURES.md §5 invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_etl_project_spark.dims import seed_agents, seed_customer_types, seed_support_areas
from pyspark_etl_project_spark.pipelines.common import empty_mart, run_load
from pyspark_etl_project_spark.pipelines.csv_pipeline import csv_transform
from pyspark_etl_project_spark.pipelines.json_pipeline import json_transform
from pyspark_etl_project_spark.pipelines.xml_pipeline import xml_transform
from pyspark_etl_project_spark.sources.json_source import json_records_df
from pyspark_etl_project_spark.sources.xml_source import parse_xml_records, xml_record_string

T1, T2, T3 = "2024-01-01 00:00:00", "2024-02-01 00:00:00", "2024-03-01 00:00:00"


@pytest.fixture(scope="module")
def dims(spark):
    return {
        "agents": seed_agents(spark),
        "support_areas": seed_support_areas(spark),
        "customer_types": seed_customer_types(spark),
    }


def _csv_df(spark, rows):
    """rows: list of 13-tuples matching CSV_TICKETS_SCHEMA order."""
    from pyspark_etl_project_spark.schemas import CSV_TICKETS_SCHEMA
    df = spark.createDataFrame(rows, CSV_TICKETS_SCHEMA)
    return df.withColumn("_ingest_order", F.monotonically_increasing_id())


def _ticket(tid, rating="GOOD", agent="ATT-AGENT-01", area="BILLING",
            ctype="PREPAID", date="01152024103000", status="COMPLETED",
            ctype_null=False, agent_null=False):
    return (tid, area, None if agent_null else agent, date, status, "CALL",
            None if ctype_null else ctype, 300, 200,
            "RESOLVED", 1, "SELF-HELP OPTION", rating)


def _active(mart):
    return {r["SOURCE_SYSTEM_IDENTIFIER"]: r
            for r in mart.filter(F.col("ACTIVE_FLAG") == 1).collect()}


class TestCsvLoadSequence:
    def test_three_load_scd2_history(self, spark, dims):
        mart = empty_mart(spark)

        # Load 1: three inserts (one with a trailing duplicate id — the
        # later occurrence must win per keep-latest).
        load1 = _csv_df(spark, [
            _ticket(1, rating="BAD"),
            _ticket(2),
            _ticket(3),
            _ticket(1, rating="BEST"),  # update appended later in file
        ])
        mart, audit1 = run_load(mart, csv_transform(load1, dims, 101), T1)
        mart = mart.persist(); mart.count()
        act = _active(mart)
        assert len(act) == 3
        assert act["AT&T - 1"]["CUSTOMER_RATING"] == 5  # BEST won, not BAD
        a1 = audit1.first()
        assert a1["TOTAL_UPSERT_COUNT"] == 3 and a1["VALID_COUNT"] == 3
        assert a1["DATA_VALID_PERCENTAGE"] == 100.0

        # Load 2: t1 identical (DUPLICATE → dropped), t2 changed (UPDATE),
        # t4 new (INSERT).
        load2 = _csv_df(spark, [
            _ticket(1, rating="BEST"),
            _ticket(2, rating="WORST"),
            _ticket(4),
        ])
        mart, audit2 = run_load(mart, csv_transform(load2, dims, 102), T2)
        mart = mart.persist(); mart.count()
        rows = mart.collect()
        act = _active(mart)
        assert len(act) == 4
        # Invariant 1: exactly one active row per key.
        by_key = {}
        for r in rows:
            if r["ACTIVE_FLAG"] == 1:
                assert r["SOURCE_SYSTEM_IDENTIFIER"] not in by_key
                by_key[r["SOURCE_SYSTEM_IDENTIFIER"]] = r
        # t1 was a DUPLICATE: untouched, START_DATE still T1.
        assert str(act["AT&T - 1"]["START_DATE"]) == T1
        # t2 was an UPDATE: expired old + fresh active.
        t2_rows = [r for r in rows if r["SOURCE_SYSTEM_IDENTIFIER"] == "AT&T - 2"]
        assert len(t2_rows) == 2
        old = next(r for r in t2_rows if r["ACTIVE_FLAG"] == 0)
        new = next(r for r in t2_rows if r["ACTIVE_FLAG"] == 1)
        # Invariant 2: expired END_DATE == successor START_DATE.
        assert old["END_DATE"] == new["START_DATE"]
        assert new["CUSTOMER_RATING"] == 1
        assert audit2.first()["TOTAL_UPSERT_COUNT"] == 2  # duplicate dropped

        # Load 3: null-heavy row → IS_VALID_DATA = 0.
        load3 = _csv_df(spark, [_ticket(5, agent_null=True)])
        mart, audit3 = run_load(mart, csv_transform(load3, dims, 103), T3)
        act = _active(mart)
        assert act["AT&T - 5"]["IS_VALID_DATA"] == 0
        assert act["AT&T - 5"]["AGENT_ID"] is None
        a3 = audit3.first()
        assert a3["VALID_COUNT"] == 0 and a3["INVALID_COUNT"] == 1

    def test_unknown_dim_value_is_invalid(self, spark, dims):
        mart = empty_mart(spark)
        load = _csv_df(spark, [_ticket(9, area="NO SUCH AREA")])
        mart, _ = run_load(mart, csv_transform(load, dims, 110), T1)
        r = _active(mart)["AT&T - 9"]
        assert r["SUPPORT_AREA_ID"] is None and r["IS_VALID_DATA"] == 0


class TestJsonPipeline:
    def _records(self, spark, specs):
        recs = [
            {"key": k, "value": {
                "INTERACTION_ID": iid,
                "SUPPORT_CATEGORY": "PAYMENTS",
                "AGENT_PSEUDO_NAME": "AMZ-AGENT-02",
                "CONTACT_DATE": "15/01/2024 10:30:00",
                "INTERACTION_STATUS": "COMPLETED",
                "INTERACTION_TYPE": "CHAT",
                "TYPE_OF_CUSTOMER": ctype,
                "INTERACTION_DURATION": 120,
                "TOTAL_TIME": 300,
                "STATUS_OF_CUSTOMER_INCIDENT": "RESOLVED",
                "RESOLVED_IN_FIRST_CONTACT": fcr,
                "SOLUTION_TYPE": "SELF-HELP OPTION",
                "RATING": rating,
            }} for (k, iid, ctype, fcr, rating) in specs
        ]
        return json_records_df(spark, recs)

    def test_normalizations_and_duplicate_dim_collapse(self, spark, dims):
        df = self._records(spark, [(1, 1, "PROMO-SEEKER", "YES", 1),
                                   (2, 2, "PRIME", "no", 10)])
        staged = json_transform(df, dims, 201)
        rows = {r["SOURCE_SYSTEM_IDENTIFIER"]: r for r in staged.collect()}
        r1, r2 = rows["AMAZON - 1"], rows["AMAZON - 2"]
        assert r1["CUSTOMER_RATING"] == 0          # floor(1/2) quirk kept
        assert r2["CUSTOMER_RATING"] == 5
        assert r1["FIRST_CONTACT_RESOLUTION"] == 1 and r2["FIRST_CONTACT_RESOLUTION"] == 0
        assert r1["WORK_TIME"] == 180              # TOTAL - DURATION
        # duplicate PROMO-SEEKER rows: newest START_DATE id (13) must win
        assert r1["CUSTOMER_TYPE_ID"] == 13

    def test_watermark_range_scan(self, spark, dims):
        from pyspark_etl_project_spark.sources.json_source import json_records_df as mk
        recs = [{"key": k, "value": {"INTERACTION_ID": k, "SUPPORT_CATEGORY": None,
                                     "AGENT_PSEUDO_NAME": None, "CONTACT_DATE": None,
                                     "INTERACTION_STATUS": None, "INTERACTION_TYPE": None,
                                     "TYPE_OF_CUSTOMER": None, "INTERACTION_DURATION": None,
                                     "TOTAL_TIME": None, "STATUS_OF_CUSTOMER_INCIDENT": None,
                                     "RESOLVED_IN_FIRST_CONTACT": None, "SOLUTION_TYPE": None,
                                     "RATING": None}} for k in range(1, 6)]
        assert mk(spark, recs, watermark=3).count() == 2  # keys 4, 5


class TestXmlPipeline:
    def _archive(self, spark, rows):
        return spark.createDataFrame(rows, "ARCHIVE_ID long, STREAM_RECORD_ID long, "
                                           "STREAMING_DATA string")

    def _rec(self, sid, ts="2024/01/15 10:30:00", dur="0:05:00", work="0:03:20",
             solve="TRUE", rating="4"):
        return xml_record_string({
            "SUPPORT_IDENTIFIER": str(sid),
            "CONTACT_REGARDING": "RIDE ISSUES",
            "AGENT_CODE": "UBR-AGENT-03",
            "DATE_OF_INTERACTION": "20240115103000",
            "STATUS_OF_INTERACTION": "INTERACTION COMPLETED",
            "TYPE_OF_INTERACTION": "CALL",
            "CUSTOMER_TYPE": "LONG-TERM CUSTOMER",
            "CONTACT_DURATION": dur,
            "AFTER_CONTACT_WORK_TIME": work,
            "INCIDENT_STATUS": "RESOLVED",
            "FIRST_CONTACT_SOLVE": solve,
            "TYPE_OF_RESOLUTION": "SELF-HELP OPTION",
            "SUPPORT_RATING": rating,
            "TIME_STAMP": ts,
        })

    def test_parse_durations_and_redelivery_is_update(self, spark, dims):
        arch1 = self._archive(spark, [(1, 1, self._rec(1, ts="2024/01/15 10:30:00"))])
        parsed1 = parse_xml_records(arch1)
        mart = empty_mart(spark)
        mart, _ = run_load(mart, xml_transform(parsed1, dims, 301), T1)
        mart = mart.persist(); mart.count()
        r = _active(mart)["UBER - 1"]
        assert r["HANDLE_TIME"] == 300 and r["WORK_TIME"] == 200
        assert r["FIRST_CONTACT_RESOLUTION"] == 1
        assert r["CUSTOMER_TYPE_ID"] == 14  # duplicate dim row, newest wins
        assert r["IS_VALID_DATA"] == 1

        # Identical record re-delivered with a fresh TIME_STAMP: the hash
        # includes TIME_STAMP, so this routes UPDATE (not DUPLICATE) —
        # reference XML:163-168 behavior preserved.
        arch2 = self._archive(spark, [(2, 1, self._rec(1, ts="2024/01/16 09:00:00"))])
        mart2, audit = run_load(mart, xml_transform(parse_xml_records(arch2), dims, 302), T2)
        assert audit.first()["TOTAL_UPSERT_COUNT"] == 1
        rows = [r for r in mart2.collect() if r["SOURCE_SYSTEM_IDENTIFIER"] == "UBER - 1"]
        assert len(rows) == 2
        assert {r["ACTIVE_FLAG"] for r in rows} == {0, 1}

    def test_latest_archive_version_wins(self, spark, dims):
        arch = self._archive(spark, [
            (1, 1, self._rec(1, rating="2")),
            (2, 1, self._rec(1, rating="5")),  # same record id, newer archive row
        ])
        staged = xml_transform(parse_xml_records(arch), dims, 303)
        rows = staged.collect()
        assert len(rows) == 1
        assert rows[0]["CUSTOMER_RATING"] == 5


def test_stateful_totals_carry_state_across_batches(spark):
    from pyspark_etl_project_spark.streaming.ingest import run_stream_to_memory
    from pyspark_etl_project_spark.streaming.stateful import (
        latest_emission_per_key,
        multi_batch_file_stream,
        running_user_totals,
    )

    rows = [(i, i % 3) for i in range(30)]  # 30 events, 3 users
    ev = spark.createDataFrame(rows, "event_id long, user_id long")
    stream = multi_batch_file_stream(
        spark,
        [ev.filter("event_id % 2 = 0"), ev.filter("event_id % 2 = 1")],
        "event_id long, user_id long")
    emissions = run_stream_to_memory(running_user_totals(stream),
                                     output_mode="update")
    # Every user appears in both micro-batches -> exactly 2 emissions
    # each, and the second must include the first batch's counts.
    per_user = {r["user_id"]: r["cnt"] for r in
                emissions.groupBy("user_id")
                         .agg(F.count("*").alias("cnt")).collect()}
    assert per_user == {0: 2, 1: 2, 2: 2}
    final = {r["user_id"]: (r["n_events"], r["max_event_id"])
             for r in latest_emission_per_key(emissions).collect()}
    assert final == {0: (10, 27), 1: (10, 28), 2: (10, 29)}


def test_csv_quarantine_splits_malformed_lines(spark, tmp_path):
    from pyspark_etl_project_spark.sources.csv_source import (
        read_csv_tickets_quarantined,
    )

    header = ("TICKET_IDENTIFIER|SUPPORT_CATEGORY|AGENT_NAME|DATE_OF_CALL|"
              "CALL_STATUS|CALL_TYPE|TYPE_OF_CUSTOMER|DURATION|WORK_TIME|"
              "TICKET_STATUS|RESOLVED_IN_FIRST_CONTACT|RESOLUTION_CATEGORY|RATING")
    good_line = "1|BILLING|A1|01022024103000|COMPLETED|CALL|PREPAID|100|50|RESOLVED|1|SELF-HELP OPTION|GOOD"
    bad_line = "notanint|BILLING|A1|x|COMPLETED|CALL|PREPAID|abc|50|RESOLVED|zz|S|GOOD"
    p = tmp_path / "feed.csv"
    p.write_text("\n".join([header, good_line, bad_line]) + "\n")

    good, bad = read_csv_tickets_quarantined(spark, str(p))
    assert good.count() == 1
    assert good.filter("TICKET_IDENTIFIER = 1").count() == 1
    quarantined = [r["_corrupt_record"] for r in bad.collect()]
    assert quarantined == [bad_line]


def test_xml_quarantine_splits_unparseable_records(spark):
    from pyspark_etl_project_spark.sources.xml_source import (
        parse_xml_records_quarantined,
        xml_record_string,
    )

    ok = xml_record_string({"SUPPORT_IDENTIFIER": "7", "SUPPORT_RATING": "4"})
    broken = "<NOT_A_RECORD><oops></NOT_A_RECORD>"
    df = spark.createDataFrame([(1, ok), (2, broken)],
                               "ARCHIVE_ID long, STREAMING_DATA string")
    good, bad = parse_xml_records_quarantined(df)
    assert [r["SUPPORT_IDENTIFIER"] for r in good.collect()] == ["7"]
    assert [r["ARCHIVE_ID"] for r in bad.collect()] == [2]


def test_stream_restart_resumes_from_checkpoint_without_reprocessing(spark, tmp_path):
    """Kill a stream after batch 1, add a new file, restart with the SAME
    checkpoint: the source must resume from recorded offsets — rows from
    batch 1 are not re-delivered to foreachBatch."""
    import glob
    import os
    import shutil

    watch = str(tmp_path / "watch")
    os.makedirs(watch)
    chk = str(tmp_path / "chk")

    def stage_file(df, name):
        staging = str(tmp_path / "_stage")
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(watch, name))
        shutil.rmtree(staging)

    seen: list[list[int]] = []

    def run_once():
        stream = (spark.readStream.schema("event_id long")
                  .option("maxFilesPerTrigger", 10).parquet(watch))
        q = (stream.writeStream.outputMode("append")
             .foreachBatch(lambda b, _e: seen.append(
                 sorted(r["event_id"] for r in b.collect())))
             .option("checkpointLocation", chk).start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    stage_file(spark.range(0, 5).selectExpr("id AS event_id"), "f0.parquet")
    run_once()
    stage_file(spark.range(5, 8).selectExpr("id AS event_id"), "f1.parquet")
    run_once()

    delivered = [row for batch in seen if batch for row in batch]
    assert delivered == [0, 1, 2, 3, 4, 5, 6, 7]   # each row exactly once


def test_streaming_band_index_split_invariant(spark):
    """The accumulated band index gives the same verdicts whether the
    stream delivered one batch or two (batch order is not contractual
    for the file source — the operator must not depend on it)."""
    import os
    import tempfile

    from pyspark_etl_project_spark.streaming.ingest import (
        foreach_batch_band_index, stream_documents)

    sf = "/root/testdata/sf0.001"

    def run(files):
        stream, _ = stream_documents(spark, sf, min_doc_id=30, files=files)
        path = os.path.join(tempfile.mkdtemp(prefix=f"bi{files}_"), "b")
        foreach_batch_band_index(stream, path)
        bands = spark.read.parquet(path)
        a, b = bands.alias("a"), bands.alias("b")
        prior = (a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
                        & (F.col("a.band_hash") == F.col("b.band_hash"))
                        & (F.col("b.doc_id") < F.col("a.doc_id")))
                 .groupBy(F.col("a.doc_id").alias("doc_id"))
                 .agg(F.countDistinct("b.doc_id").alias("p")))
        return {r["doc_id"]: r["p"] for r in prior.collect()}

    assert run(1) == run(2)


def test_streaming_kmv_min_k_merge_invariant(spark):
    """The k-th minimum over per-batch top-k appends equals the batch
    KMV whether the stream delivered one batch or two (min-k is
    associative)."""
    import os
    import tempfile

    from pyspark_etl_project_spark.streaming.ingest import (
        foreach_batch_kmv, stream_documents)

    sf = "/root/testdata/sf0.001"

    def kth(files, k=16):
        stream, _ = stream_documents(spark, sf, min_doc_id=20,
                                     files=files)
        store = os.path.join(tempfile.mkdtemp(prefix=f"kmv{files}_"),
                             "s")
        foreach_batch_kmv(stream, store, k=k)
        from pyspark.sql import Window
        cand = spark.read.parquet(store).distinct()
        r = (cand.withColumn("_rn", F.row_number().over(
                Window.orderBy("h")))
             .filter(F.col("_rn") == k).collect())
        return r[0]["h"] if r else None

    assert kth(1) == kth(2)
    assert kth(1) is not None


def test_stream_documents_empty_slice_drains_empty(spark):
    """A min_doc_id beyond the table's max produces an EMPTY stream
    that still delivers (and drains) cleanly — previously this raised
    TypeError (None + int) building the chunk range filters."""
    from pyspark_etl_project_spark.streaming.ingest import (
        stream_documents)

    stream, _ = stream_documents(spark, "/root/testdata/sf0.001",
                                 min_doc_id=10**9, files=2)
    seen = []
    q = (stream.writeStream
         .foreachBatch(lambda b, _e: seen.append(b.count()))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sum(seen) == 0


def test_foreach_batch_scd2_restart_replays_after_mart_reset(spark, tmp_path):
    """Re-invoking foreach_batch_scd2 with the SAME mart path resets
    the mart AND drops the stale stream checkpoint, so the stream
    replays everything and converges to the same final mart — with the
    old checkpoint kept, the committed offsets would skip the batches
    the reset just erased (silent loss)."""
    from pyspark_etl_project_spark.operators.scd2 import read_mart
    from pyspark_etl_project_spark.streaming.ingest import (
        foreach_batch_scd2, stream_documents)

    sf = "/root/testdata/sf0.001"
    t0 = "2020-01-01 00:00:00"
    initial = spark.createDataFrame(
        [(1, "SEED", 0, 1, t0, "2099-12-31 00:00:00")],
        "csd_id long, ssi string, n_chars long, ACTIVE_FLAG int, "
        "START_DATE string, END_DATE string") \
        .withColumn("START_DATE", F.col("START_DATE").cast("timestamp")) \
        .withColumn("END_DATE", F.col("END_DATE").cast("timestamp"))

    def prep(b):
        return b.select(
            F.concat(F.lit("D-"), F.col("doc_id").cast("string"))
             .alias("ssi"),
            F.length("text").cast("long").alias("n_chars"))

    mart_path = str(tmp_path / "mart")

    def run(**kw):
        stream, _ = stream_documents(spark, sf, min_doc_id=480, files=2)
        foreach_batch_scd2(stream, mart_path, initial,
                           run_ts="2024-01-01 00:00:00", key="ssi",
                           surrogate_col="csd_id", prepare=prep,
                           num_buckets=4, **kw)
        return sorted((r["ssi"], r["n_chars"], r["ACTIVE_FLAG"])
                      for r in read_mart(spark, mart_path).collect())

    first = run()  # virgin path: default reset=None seeds fresh
    assert len(first) > 1  # seed row + streamed docs
    # The seed recorded fingerprint provenance (module-canonical here:
    # the initial frame carried no hash column) in the sibling marker
    # file that survives every later mart rewrite.
    from pyspark_etl_project_spark.operators.fs import read_text_marker
    from pyspark_etl_project_spark.streaming.ingest import (
        HASH_PROVENANCE_CANONICAL, provenance_marker_path)
    assert (read_text_marker(spark, provenance_marker_path(mart_path))
            == HASH_PROVENANCE_CANONICAL)
    # Prior state now exists: the default must REFUSE rather than
    # silently wipe a caller-supplied directory (path-mistake guard) —
    # and resume mode must leave the converged mart untouched.
    with pytest.raises(ValueError, match="prior state exists"):
        run()
    second = run(reset=True)  # explicit fresh load replays + converges
    assert second == first
    third = run(reset=False)  # resume: nothing new to replay
    assert third == first


def test_scd2_merge_batch_double_delivery_is_noop(spark, tmp_path):
    """Literal at-least-once redelivery: calling the foreachBatch merge
    handler TWICE with the same batch leaves the mart byte-identical
    (surrogates, stamps and all) — re-delivered unchanged rows route
    DUPLICATE instead of expiring their predecessor into a same-valued
    phantom version, and a pure-duplicate batch skips the write."""
    from pyspark_etl_project_spark.functions.hashing import row_fingerprint
    from pyspark_etl_project_spark.operators.scd2 import read_mart, write_mart
    from pyspark_etl_project_spark.streaming.ingest import (
        STREAM_HASH_COL, _mart_value_cols, scd2_merge_batch)

    t0 = "2020-01-01 00:00:00"
    initial = spark.createDataFrame(
        [(1, "K-1", 10, 1, t0, "2099-12-31 00:00:00"),
         (2, "K-2", 20, 1, t0, "2099-12-31 00:00:00")],
        "csd_id long, ssi string, v long, ACTIVE_FLAG int, "
        "START_DATE string, END_DATE string") \
        .withColumn("START_DATE", F.col("START_DATE").cast("timestamp")) \
        .withColumn("END_DATE", F.col("END_DATE").cast("timestamp"))
    vcols = _mart_value_cols(initial.columns, "csd_id")
    seed = initial.withColumn(STREAM_HASH_COL,
                              row_fingerprint(sorted(vcols)))
    mart_path = str(tmp_path / "mart")
    write_mart(seed, mart_path, partition_col=None, key="ssi",
               num_buckets=4)

    # K-1 updated, K-2 re-delivered UNCHANGED, K-3 new.
    batch = spark.createDataFrame([("K-1", 11), ("K-2", 20), ("K-3", 30)],
                                  "ssi string, v long")

    def full_state():
        return sorted(tuple(r) for r in read_mart(spark, mart_path)
                      .collect())

    def merge():
        scd2_merge_batch(spark, batch, mart_path,
                         run_ts="2024-01-01 00:00:00", key="ssi",
                         surrogate_col="csd_id", num_buckets=4,
                         partition_col=None)

    merge()
    first = full_state()
    versions = sorted((r["ssi"], r["v"], r["ACTIVE_FLAG"])
                      for r in read_mart(spark, mart_path).collect())
    # First delivery already routes the unchanged K-2 DUPLICATE: one
    # active version, no phantom history.
    assert versions == [("K-1", 10, 0), ("K-1", 11, 1),
                        ("K-2", 20, 1), ("K-3", 30, 1)]
    merge()  # the retry
    assert full_state() == first


def test_scd2_merge_batch_preserves_evolved_column_across_buckets(
        spark, tmp_path):
    """A schema-evolved mart has bucket dirs of DIFFERING vintage (each
    dynamic overwrite rewrites whole buckets, so vintage varies only
    ACROSS buckets). When a batch touches an old-vintage bucket and an
    evolved bucket together, the merge read must surface the column
    UNION: a single-footer read could pick the old schema and the
    bucket rewrite would silently delete the late-added column's data
    from the evolved bucket (round-13-found, the vacuum r12 bug class
    on the merge path). K-1 hashes to bucket 3, K-3 to bucket 1
    (xxhash64 % 4) — two distinct buckets by construction."""
    from pyspark_etl_project_spark.functions.hashing import row_fingerprint
    from pyspark_etl_project_spark.operators.scd2 import (
        read_mart, write_mart)
    from pyspark_etl_project_spark.streaming.ingest import (
        STREAM_HASH_COL, _mart_value_cols, scd2_merge_batch)

    t0 = "2020-01-01 00:00:00"
    open_end = "2099-12-31 00:00:00"

    def stamp(df):
        return (df.withColumn("START_DATE",
                              F.lit(t0).cast("timestamp"))
                  .withColumn("END_DATE",
                              F.lit(open_end).cast("timestamp")))

    # Load 1: no NEW_COL anywhere.
    v1 = stamp(spark.createDataFrame(
        [(1, "K-1", 10, 1), (2, "K-3", 30, 1)],
        "csd_id long, ssi string, v long, ACTIVE_FLAG int"))
    v1 = v1.withColumn(STREAM_HASH_COL, row_fingerprint(
        sorted(_mart_value_cols(v1.columns, "csd_id"))))
    mart_path = str(tmp_path / "mart")
    write_mart(v1, mart_path, partition_col=None, key="ssi",
               num_buckets=4)
    # Load 2 evolves ONLY K-3's bucket: touched-keys pruning rewrites
    # bucket 1 with the NEW_COL schema; K-1's bucket 3 keeps vintage 1.
    v2 = stamp(spark.createDataFrame(
        [(2, "K-3", 30, "n3", 1)],
        "csd_id long, ssi string, v long, NEW_COL string, "
        "ACTIVE_FLAG int"))
    v2 = v2.withColumn(STREAM_HASH_COL, row_fingerprint(
        sorted(_mart_value_cols(v2.columns, "csd_id"))))
    write_mart(v2, mart_path, partition_col=None, key="ssi",
               num_buckets=4,
               touched_keys=v2.select("ssi").distinct())

    # One batch touches BOTH buckets with the evolved shape.
    batch = spark.createDataFrame([("K-1", 11, "n1"), ("K-3", 31, "n3b")],
                                  "ssi string, v long, NEW_COL string")
    n = scd2_merge_batch(spark, batch, mart_path,
                         run_ts="2024-01-01 00:00:00", key="ssi",
                         surrogate_col="csd_id", num_buckets=4,
                         partition_col=None)
    assert n == 2
    back = read_mart(spark, mart_path, merge_schema=True)
    got = {(r["ssi"], r["v"], r["ACTIVE_FLAG"], r["NEW_COL"])
           for r in back.select("ssi", "v", "ACTIVE_FLAG",
                                "NEW_COL").collect()}
    # K-3's EXPIRED version keeps its pre-merge NEW_COL value — the
    # single-footer failure mode would have nulled it on disk.
    assert got == {("K-1", 10, 0, None), ("K-1", 11, 1, "n1"),
                   ("K-3", 30, 0, "n3"), ("K-3", 31, 1, "n3b")}


def test_scd2_merge_batch_refuses_retyped_partition_column(
        spark, tmp_path):
    """The partition column is reconstructed from DIR NAMES, so a
    numeric-looking STRING value ('0123') reads back as int — and a
    rewrite would fork the partition (SRC=123 beside the surviving
    SRC=0123, double-counting every read). The merge must detect the
    dtype flip against the arrival batch and refuse BEFORE anything
    merges; a non-numeric string partition value round-trips and
    merges normally (control)."""
    import os

    import pytest

    from pyspark_etl_project_spark.functions.hashing import row_fingerprint
    from pyspark_etl_project_spark.operators.scd2 import (
        read_mart, write_mart)
    from pyspark_etl_project_spark.streaming.ingest import (
        STREAM_HASH_COL, _mart_value_cols, scd2_merge_batch)

    def seed_mart(path, src_val):
        base = (spark.createDataFrame(
            [(1, "K-1", 10, src_val, 1)],
            "csd_id long, ssi string, v long, SRC string, "
            "ACTIVE_FLAG int")
            .withColumn("START_DATE",
                        F.lit("2020-01-01 00:00:00").cast("timestamp"))
            .withColumn("END_DATE",
                        F.lit("2099-12-31 00:00:00").cast("timestamp")))
        base = base.withColumn(STREAM_HASH_COL, row_fingerprint(
            sorted(_mart_value_cols(base.columns, "csd_id"))))
        write_mart(base, path, partition_col="SRC", key="ssi",
                   num_buckets=4)

    def merge(path, src_val):
        batch = spark.createDataFrame([("K-1", 11, src_val)],
                                      "ssi string, v long, SRC string")
        return scd2_merge_batch(spark, batch, path,
                                run_ts="2024-01-01 00:00:00", key="ssi",
                                surrogate_col="csd_id", num_buckets=4,
                                partition_col="SRC")

    # All-numeric string dirs re-type to int on read: refuse loudly.
    bad = str(tmp_path / "mart_bad")
    seed_mart(bad, "0123")
    import glob as _glob
    before = sorted(_glob.glob(bad + "/**/*.parquet", recursive=True))
    with pytest.raises(ValueError, match="reads back.*as int"):
        merge(bad, "0123")
    assert sorted(_glob.glob(bad + "/**/*.parquet",
                             recursive=True)) == before
    assert os.path.isdir(os.path.join(bad, "SRC=0123"))  # no fork

    # Control: a non-numeric string value round-trips verbatim.
    ok = str(tmp_path / "mart_ok")
    seed_mart(ok, "web-a")
    assert merge(ok, "web-a") == 1
    rows = {(r["ssi"], r["v"], r["ACTIVE_FLAG"], r["SRC"]) for r in
            read_mart(spark, ok).collect()}
    assert rows == {("K-1", 10, 0, "web-a"), ("K-1", 11, 1, "web-a")}


def test_scd2_merge_batch_caller_managed_hash_routes_duplicates(spark, tmp_path):
    """A mart seeded with a CALLER-computed SOURCE_HASH_KEY (not this
    module's fingerprint) still routes redelivery correctly when the
    arrival batches carry the same caller hash — scd2_route_arrivals
    must trust the arrival-side hash verbatim instead of recomputing
    its own construction (which would never match and phantom-UPDATE
    every redelivery)."""
    from pyspark_etl_project_spark.operators.scd2 import read_mart, write_mart
    from pyspark_etl_project_spark.streaming.ingest import scd2_merge_batch

    t0 = "2020-01-01 00:00:00"
    # Caller hash: md5 of value only — a construction this module
    # would never produce (it hashes the sorted value columns).
    initial = spark.createDataFrame(
        [(1, "K-1", 10, 1, t0, "2099-12-31 00:00:00")],
        "csd_id long, ssi string, v long, ACTIVE_FLAG int, "
        "START_DATE string, END_DATE string") \
        .withColumn("START_DATE", F.col("START_DATE").cast("timestamp")) \
        .withColumn("END_DATE", F.col("END_DATE").cast("timestamp")) \
        .withColumn("SOURCE_HASH_KEY", F.md5(F.col("v").cast("string")))
    mart_path = str(tmp_path / "mart")
    write_mart(initial, mart_path, partition_col=None, key="ssi",
               num_buckets=4)

    batch = (spark.createDataFrame([("K-1", 10)], "ssi string, v long")
             .withColumn("SOURCE_HASH_KEY",
                         F.md5(F.col("v").cast("string"))))
    n = scd2_merge_batch(spark, batch, mart_path,
                         run_ts="2024-01-01 00:00:00", key="ssi",
                         surrogate_col="csd_id", num_buckets=4,
                         partition_col=None)
    # Same caller hash on both sides → DUPLICATE → nothing merged.
    assert n == 0
    rows = read_mart(spark, mart_path).collect()
    assert len(rows) == 1 and rows[0]["ACTIVE_FLAG"] == 1


def test_scd2_merge_batch_rejects_extra_arrival_columns(spark, tmp_path):
    """An arrival column the mart doesn't carry must FAIL FAST, not be
    silently projected away (pre-routing, the merge's unionByName died
    loudly on it; the routing projection must not soften that)."""
    from pyspark_etl_project_spark.functions.hashing import row_fingerprint
    from pyspark_etl_project_spark.operators.scd2 import write_mart
    from pyspark_etl_project_spark.streaming.ingest import (
        STREAM_HASH_COL, _mart_value_cols, scd2_merge_batch)

    t0 = "2020-01-01 00:00:00"
    initial = spark.createDataFrame(
        [(1, "K-1", 10, 1, t0, "2099-12-31 00:00:00")],
        "csd_id long, ssi string, v long, ACTIVE_FLAG int, "
        "START_DATE string, END_DATE string") \
        .withColumn("START_DATE", F.col("START_DATE").cast("timestamp")) \
        .withColumn("END_DATE", F.col("END_DATE").cast("timestamp"))
    vcols = _mart_value_cols(initial.columns, "csd_id")
    seed = initial.withColumn(STREAM_HASH_COL,
                              row_fingerprint(sorted(vcols)))
    mart_path = str(tmp_path / "mart")
    write_mart(seed, mart_path, partition_col=None, key="ssi",
               num_buckets=4)

    batch = spark.createDataFrame([("K-1", 11, "oops")],
                                  "ssi string, v long, stray string")
    with pytest.raises(ValueError, match="stray"):
        scd2_merge_batch(spark, batch, mart_path,
                         run_ts="2024-01-01 00:00:00", key="ssi",
                         surrogate_col="csd_id", num_buckets=4,
                         partition_col=None)


def test_scd2_merge_batch_surrogates_unique_across_buckets(spark, tmp_path):
    """The merge's mart read is pruned to the arriving keys' buckets,
    but the surrogate offset must stay GLOBAL: a MAX over just the
    touched slice would miss higher ids living in untouched buckets and
    collide surrogates across buckets. The offset=None fallback scans
    the full mart's surrogate column; this pins it with the global max
    id deliberately placed in a bucket the batch does NOT touch."""
    from pyspark_etl_project_spark.functions.hashing import row_fingerprint
    from pyspark_etl_project_spark.operators.scd2 import (
        mart_bucket, read_mart, write_mart)
    from pyspark_etl_project_spark.streaming.ingest import (
        STREAM_HASH_COL, _mart_value_cols, scd2_merge_batch)

    cand = [f"K-{i}" for i in range(20)]
    bdf = (spark.createDataFrame([(c,) for c in cand], "ssi string")
           .withColumn("b", mart_bucket("ssi", 4)))
    bucket_of = {r["ssi"]: r["b"] for r in bdf.collect()}
    k_a = cand[0]
    k_b = next(c for c in cand if bucket_of[c] != bucket_of[k_a])

    t0 = "2020-01-01 00:00:00"
    initial = spark.createDataFrame(
        [(100, k_a, 10, 1, t0, "2099-12-31 00:00:00"),
         (1, k_b, 20, 1, t0, "2099-12-31 00:00:00")],
        "csd_id long, ssi string, v long, ACTIVE_FLAG int, "
        "START_DATE string, END_DATE string") \
        .withColumn("START_DATE", F.col("START_DATE").cast("timestamp")) \
        .withColumn("END_DATE", F.col("END_DATE").cast("timestamp"))
    vcols = _mart_value_cols(initial.columns, "csd_id")
    seed = initial.withColumn(STREAM_HASH_COL,
                              row_fingerprint(sorted(vcols)))
    mart_path = str(tmp_path / "mart")
    write_mart(seed, mart_path, partition_col=None, key="ssi",
               num_buckets=4)

    # Update k_b only: the batch touches k_b's bucket, NOT k_a's —
    # the global max id (100) lives outside the touched slice.
    batch = spark.createDataFrame([(k_b, 21)], "ssi string, v long")
    n = scd2_merge_batch(spark, batch, mart_path,
                         run_ts="2024-01-01 00:00:00", key="ssi",
                         surrogate_col="csd_id", num_buckets=4,
                         partition_col=None)
    assert n == 1
    rows = read_mart(spark, mart_path).collect()
    ids = [r["csd_id"] for r in rows]
    assert len(ids) == len(set(ids))  # no surrogate collision
    fresh = [r for r in rows if r["ssi"] == k_b and r["ACTIVE_FLAG"] == 1]
    assert fresh[0]["csd_id"] == 101  # global max + 1, not slice max + 1
    # And the untouched bucket's row survived unrewritten.
    assert any(r["ssi"] == k_a and r["csd_id"] == 100 and
               r["ACTIVE_FLAG"] == 1 for r in rows)


def test_scd2_merge_batch_mart_read_partition_prunes(spark, tmp_path):
    """The PRODUCTION per-batch mart read (read_mart_touched — the
    function scd2_merge_batch actually calls) must scan only the
    touched bucket dirs — at 100 TB a micro-batch reads (and lists) a
    handful of buckets, never the mart. Asserted against the shipped
    read's own plan, not a test-local reconstruction, for BOTH layouts:
    bucket-only and partition_col-nested (where the bucket dirs live
    UNDER <pcol>=x/ and a flat <path>/MART_BUCKET=b probe would miss
    every dir and silently fall back to the full listing)."""
    from pyspark_etl_project_spark.operators.scd2 import (
        mart_bucket, read_mart_touched, write_mart)

    t0s, t0e = "2020-01-01 00:00:00", "2099-12-31 00:00:00"
    rows = [(i, f"K-{i}", 1 + i % 2, i * 10, 1, t0s, t0e)
            for i in range(20)]
    seed = spark.createDataFrame(
        rows,
        "csd_id long, ssi string, src int, v long, ACTIVE_FLAG int, "
        "START_DATE string, END_DATE string") \
        .withColumn("START_DATE", F.col("START_DATE").cast("timestamp")) \
        .withColumn("END_DATE", F.col("END_DATE").cast("timestamp"))
    bucket_of = {r["ssi"]: r["b"] for r in seed.select(
        "ssi", mart_bucket("ssi", 4).alias("b")).collect()}
    bucket_ids = [bucket_of["K-0"]]
    expect = sorted(r[1] for r in rows if bucket_of[r[1]] in bucket_ids)

    def scan_paths(df):
        mode = (spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted"))
        plan = df._jdf.queryExecution().explainString(mode)
        return "\n".join(ln for ln in plan.splitlines()
                         if "Location" in ln)

    for pcol in (None, "src"):
        mart_path = str(tmp_path / f"mart_{pcol}")
        write_mart(seed, mart_path, partition_col=pcol, key="ssi",
                   num_buckets=4)
        got = read_mart_touched(spark, mart_path, bucket_ids,
                                partition_col=pcol)
        # Content: exactly the touched bucket's rows (proves the
        # partitioned-layout glob actually found the nested dirs
        # instead of falling back to an empty-dirs schema read).
        assert sorted(r["ssi"] for r in got.collect()) == expect
        loc = scan_paths(got)
        assert f"MART_BUCKET={bucket_ids[0]}" in loc
        untouched = [b for b in range(4) if b not in bucket_ids]
        assert all(f"MART_BUCKET={b}" not in loc for b in untouched)


def test_band_index_double_delivery_appends_nothing(spark, tmp_path):
    """Redelivering a batch to the band index appends ZERO rows (the
    doc-level anti-join guard) — without it, downstream COUNT(*)
    corpus-hit joins double on every foreachBatch retry. Fresh batches
    still append, and their redelivery is also a no-op."""
    from pyspark_etl_project_spark.streaming.ingest import band_index_batch

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    b1 = docs.filter(F.col("doc_id") < 40)
    b2 = docs.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 60))
    path = str(tmp_path / "bands")

    def state():
        return sorted(tuple(r) for r in spark.read.parquet(path).collect())

    band_index_batch(b1, path)
    after_b1 = state()
    assert after_b1
    band_index_batch(b1, path)  # retry of batch 1
    assert state() == after_b1
    band_index_batch(b2, path)  # fresh batch still lands
    after_b2 = state()
    assert len(after_b2) > len(after_b1)
    band_index_batch(b2, path)  # retry of batch 2
    assert state() == after_b2
    # The index is doc-bucket partitioned, so the per-batch
    # already-indexed probe reads only the dirs the batch's docs hash
    # to — O(touched slice), not O(docs ever indexed).
    import os

    from pyspark_etl_project_spark.streaming.ingest import DOC_BUCKET_COL
    assert any(d.startswith(f"{DOC_BUCKET_COL}=")
               for d in os.listdir(path))


def test_kmv_double_delivery_estimate_unchanged(spark, tmp_path):
    """Redelivering a batch to the KMV store appends duplicate hashes,
    but every consumer cuts DISTINCT before ranking — the k-th distinct
    minimum (and hence the estimate) must not move."""
    from pyspark_etl_project_spark.streaming.ingest import kmv_batch

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .filter(F.col("doc_id") < 60).select("doc_id", "text"))
    store = str(tmp_path / "kmv")
    k = 16

    def kth():
        cand = spark.read.parquet(store).distinct()
        row = (cand.orderBy("h").limit(k)
               .agg(F.when(F.count(F.lit(1)) == k, F.max("h"))
                    .cast("long").alias("m")).collect())
        return row[0]["m"]

    kmv_batch(docs, store, k=k)
    first = kth()
    assert first is not None
    kmv_batch(docs, store, k=k)  # the retry
    assert kth() == first


def _mini_mart(spark, with_hash: bool):
    from pyspark_etl_project_spark.functions.hashing import row_fingerprint
    from pyspark_etl_project_spark.streaming.ingest import (
        STREAM_HASH_COL, _mart_value_cols)

    t0 = "2020-01-01 00:00:00"
    initial = spark.createDataFrame(
        [(1, "K-1", 10, 1, t0, "2099-12-31 00:00:00")],
        "csd_id long, ssi string, v long, ACTIVE_FLAG int, "
        "START_DATE string, END_DATE string") \
        .withColumn("START_DATE", F.col("START_DATE").cast("timestamp")) \
        .withColumn("END_DATE", F.col("END_DATE").cast("timestamp"))
    if with_hash:
        vcols = _mart_value_cols(initial.columns, "csd_id")
        initial = initial.withColumn(STREAM_HASH_COL,
                                     row_fingerprint(sorted(vcols)))
    return initial


def test_scd2_merge_batch_rejects_null_natural_key(spark, tmp_path):
    """A NULL natural key can never be matched by the (null-unsafe)
    routing/expire key joins: it would route INSERT on EVERY delivery
    and stack an identical active row per retry. The merge must refuse
    it loudly instead of corrupting silently."""
    from pyspark_etl_project_spark.operators.scd2 import write_mart
    from pyspark_etl_project_spark.streaming.ingest import scd2_merge_batch

    mart_path = str(tmp_path / "mart")
    write_mart(_mini_mart(spark, with_hash=True), mart_path,
               partition_col=None, key="ssi", num_buckets=4)
    batch = spark.createDataFrame([(None, 11), ("K-2", 20)],
                                  "ssi string, v long")
    with pytest.raises(ValueError, match="NULL ssi"):
        scd2_merge_batch(spark, batch, mart_path,
                         run_ts="2024-01-01 00:00:00", key="ssi",
                         surrogate_col="csd_id", num_buckets=4,
                         partition_col=None)


def test_foreach_batch_scd2_seed_rejects_null_key(spark, tmp_path):
    """Same NULL-key guard on the SEED: an unexpirable NULL-key active
    row in the initial mart is rejected before any write happens."""
    from pyspark_etl_project_spark.streaming.ingest import (
        foreach_batch_scd2)

    t0 = "2020-01-01 00:00:00"
    bad_seed = spark.createDataFrame(
        [(1, None, 0, 1, t0, "2099-12-31 00:00:00")],
        "csd_id long, ssi string, n long, ACTIVE_FLAG int, "
        "START_DATE string, END_DATE string") \
        .withColumn("START_DATE", F.col("START_DATE").cast("timestamp")) \
        .withColumn("END_DATE", F.col("END_DATE").cast("timestamp"))
    stream = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="NULL ssi"):
        foreach_batch_scd2(stream, str(tmp_path / "mart"), bad_seed,
                           run_ts="2024-01-01 00:00:00", key="ssi",
                           surrogate_col="csd_id", num_buckets=4)


def test_canonical_marked_mart_ignores_foreign_arrival_hash(spark, tmp_path):
    """A mart whose provenance marker says the persisted fingerprints
    are module-canonical must route with the CANONICAL construction
    even when prepare() emits its own SOURCE_HASH_KEY (e.g. a
    batch-spine prepare reusing the per-source-order hash): trusting
    the foreign hash verbatim would never match the stored canonical
    one and every redelivered unchanged row would phantom-UPDATE."""
    from pyspark_etl_project_spark.operators.fs import write_text_marker
    from pyspark_etl_project_spark.operators.scd2 import (read_mart,
                                                          write_mart)
    from pyspark_etl_project_spark.streaming.ingest import (
        HASH_PROVENANCE_CANONICAL, provenance_marker_path, scd2_merge_batch)

    mart_path = str(tmp_path / "mart")
    write_mart(_mini_mart(spark, with_hash=True), mart_path,
               partition_col=None, key="ssi", num_buckets=4)
    write_text_marker(spark, provenance_marker_path(mart_path),
                      HASH_PROVENANCE_CANONICAL)
    # Unchanged row, but carrying a FOREIGN hash construction.
    batch = (spark.createDataFrame([("K-1", 10)], "ssi string, v long")
             .withColumn("SOURCE_HASH_KEY",
                         F.md5(F.col("v").cast("string"))))
    n = scd2_merge_batch(spark, batch, mart_path,
                         run_ts="2024-01-01 00:00:00", key="ssi",
                         surrogate_col="csd_id", num_buckets=4,
                         partition_col=None)
    assert n == 0  # routed DUPLICATE via the recomputed canonical hash
    rows = read_mart(spark, mart_path).collect()
    assert len(rows) == 1 and rows[0]["ACTIVE_FLAG"] == 1


def test_caller_marked_mart_requires_arrival_hash(spark, tmp_path):
    """A mart whose marker says the fingerprints are caller-managed
    cannot route hash-less arrivals (this module cannot reconstruct
    the caller's construction — the canonical one would permanently
    mismatch): fail fast instead of phantom-versioning every retry."""
    from pyspark_etl_project_spark.operators.fs import write_text_marker
    from pyspark_etl_project_spark.operators.scd2 import write_mart
    from pyspark_etl_project_spark.streaming.ingest import (
        HASH_PROVENANCE_CALLER, provenance_marker_path, scd2_merge_batch)

    mart_path = str(tmp_path / "mart")
    caller_seed = (_mini_mart(spark, with_hash=False)
                   .withColumn("SOURCE_HASH_KEY",
                               F.md5(F.col("v").cast("string"))))
    write_mart(caller_seed, mart_path, partition_col=None, key="ssi",
               num_buckets=4)
    write_text_marker(spark, provenance_marker_path(mart_path),
                      HASH_PROVENANCE_CALLER)
    batch = spark.createDataFrame([("K-1", 10)], "ssi string, v long")
    with pytest.raises(ValueError, match="caller-managed"):
        scd2_merge_batch(spark, batch, mart_path,
                         run_ts="2024-01-01 00:00:00", key="ssi",
                         surrogate_col="csd_id", num_buckets=4,
                         partition_col=None)


def test_legacy_hashless_mart_routes_canonical_both_sides(spark, tmp_path):
    """A legacy mart with NO persisted fingerprint gets the canonical
    fingerprint recomputed on the historic side — so the ARRIVAL side
    must use the same construction even when the batch carries its own
    SOURCE_HASH_KEY (trusting it verbatim would guarantee a mismatch
    against the canonical historic hash: every redelivery would
    phantom-UPDATE)."""
    from pyspark_etl_project_spark.operators.scd2 import (read_mart,
                                                          write_mart)
    from pyspark_etl_project_spark.streaming.ingest import scd2_merge_batch

    mart_path = str(tmp_path / "mart")
    write_mart(_mini_mart(spark, with_hash=False), mart_path,
               partition_col=None, key="ssi", num_buckets=4)
    batch = (spark.createDataFrame([("K-1", 10)], "ssi string, v long")
             .withColumn("SOURCE_HASH_KEY",
                         F.md5(F.col("v").cast("string"))))
    n = scd2_merge_batch(spark, batch, mart_path,
                         run_ts="2024-01-01 00:00:00", key="ssi",
                         surrogate_col="csd_id", num_buckets=4,
                         partition_col=None)
    assert n == 0  # unchanged row routes DUPLICATE, not phantom UPDATE
    rows = read_mart(spark, mart_path).collect()
    assert len(rows) == 1 and rows[0]["ACTIVE_FLAG"] == 1


def test_band_index_rejects_flat_legacy_layout(spark, tmp_path):
    """Appending bucket-partitioned band rows beside a legacy FLAT
    index would bypass the already-indexed guard (no DOC_BUCKET dirs
    match → every redelivered doc re-appends) and leave a mixed layout
    Spark refuses to read — the guard (the mart's own
    _check_bucket_layout) must refuse instead."""
    from pyspark_etl_project_spark.streaming.ingest import band_index_batch

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .filter(F.col("doc_id") < 40).select("doc_id", "text"))
    path = str(tmp_path / "bands")
    # A flat index, as the pre-bucketing code wrote it.
    (spark.createDataFrame([(1, 0, "ab")],
                           "doc_id long, band_id int, band_hash string")
     .write.parquet(path))
    with pytest.raises(ValueError, match="expected DOC_BUCKET=<id> dirs"):
        band_index_batch(docs, path)


def test_band_index_rejects_bucket_count_change(spark, tmp_path):
    """num_buckets is fixed per index path: a different bucketing would
    probe the wrong dirs and silently re-append already-indexed docs."""
    import os

    from pyspark_etl_project_spark.streaming.ingest import (
        DOC_BUCKET_COL, band_index_batch)

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .filter(F.col("doc_id") < 40).select("doc_id", "text"))
    path = str(tmp_path / "bands")
    band_index_batch(docs, path, num_buckets=16)
    top = max(int(d.split("=", 1)[1]) for d in os.listdir(path)
              if d.startswith(DOC_BUCKET_COL + "="))
    # num_buckets == the highest existing dir id guarantees that dir is
    # out of range for the new bucketing — deterministic trigger.
    with pytest.raises(ValueError, match="num_buckets must stay"):
        band_index_batch(docs, path, num_buckets=max(top, 1))


def test_foreach_batch_scd2_bad_seed_preserves_prior_state(spark, tmp_path):
    """reset=True with an invalid seed (NULL natural key) must fail
    BEFORE deleting the prior mart and checkpoint — a bad fresh load
    cannot destroy the state it was about to replace."""
    import os

    from pyspark_etl_project_spark.operators.scd2 import read_mart, write_mart
    from pyspark_etl_project_spark.streaming.ingest import (
        foreach_batch_scd2)

    mart_path = str(tmp_path / "mart")
    write_mart(_mini_mart(spark, with_hash=True), mart_path,
               partition_col=None, key="ssi", num_buckets=4)
    os.makedirs(mart_path + "_chk")
    before = sorted(tuple(r) for r in read_mart(spark, mart_path).collect())

    t0 = "2020-01-01 00:00:00"
    bad_seed = spark.createDataFrame(
        [(1, None, 0, 1, t0, "2099-12-31 00:00:00")],
        "csd_id long, ssi string, v long, ACTIVE_FLAG int, "
        "START_DATE string, END_DATE string") \
        .withColumn("START_DATE", F.col("START_DATE").cast("timestamp")) \
        .withColumn("END_DATE", F.col("END_DATE").cast("timestamp"))
    stream = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="NULL ssi"):
        foreach_batch_scd2(stream, mart_path, bad_seed,
                           run_ts="2024-01-01 00:00:00", key="ssi",
                           surrogate_col="csd_id", num_buckets=4,
                           reset=True)
    assert os.path.isdir(mart_path + "_chk")
    after = sorted(tuple(r) for r in read_mart(spark, mart_path).collect())
    assert after == before


def test_foreach_batch_scd2_checkpoint_only_hint(spark, tmp_path):
    """When only a stale checkpoint survives (mart dir gone), the
    refuse-path error must NOT advise reset=False — resume requires a
    mart and would itself raise — and must call out that the
    checkpoint is unusable."""
    import os

    from pyspark_etl_project_spark.streaming.ingest import (
        foreach_batch_scd2)

    mart_path = str(tmp_path / "mart")
    os.makedirs(mart_path + "_chk")
    stream = spark.readStream.format("rate").load()
    seed = _mini_mart(spark, with_hash=False)
    with pytest.raises(ValueError, match="stale checkpoint") as exc:
        foreach_batch_scd2(stream, mart_path, seed,
                           run_ts="2024-01-01 00:00:00", key="ssi",
                           surrogate_col="csd_id", num_buckets=4)
    assert "reset=False" not in str(exc.value)


def test_foreach_batch_scd2_trailing_slash_sibling_paths(spark, tmp_path):
    """A trailing-slash mart_path must not nest the checkpoint INSIDE
    the mart dir, where the running query's committed offsets would
    sit among the mart's partition dirs. Every sibling path (marker,
    _chk, prior-state probe) derives from one rstripped stem."""
    import os

    from pyspark_etl_project_spark.operators.scd2 import read_mart
    from pyspark_etl_project_spark.streaming.ingest import (
        foreach_batch_scd2, stream_documents)

    sf = "/root/testdata/sf0.001"
    t0 = "2020-01-01 00:00:00"
    initial = spark.createDataFrame(
        [(1, "SEED", 0, 1, t0, "2099-12-31 00:00:00")],
        "csd_id long, ssi string, n_chars long, ACTIVE_FLAG int, "
        "START_DATE string, END_DATE string") \
        .withColumn("START_DATE", F.col("START_DATE").cast("timestamp")) \
        .withColumn("END_DATE", F.col("END_DATE").cast("timestamp"))

    def prep(b):
        return b.select(
            F.concat(F.lit("D-"), F.col("doc_id").cast("string"))
             .alias("ssi"),
            F.length("text").cast("long").alias("n_chars"))

    mart_path = str(tmp_path / "mart")
    stream, _ = stream_documents(spark, sf, min_doc_id=480, files=2)
    foreach_batch_scd2(stream, mart_path + "/", initial,
                       run_ts="2024-01-01 00:00:00", key="ssi",
                       surrogate_col="csd_id", prepare=prep,
                       num_buckets=4, partition_col=None)
    assert os.path.isdir(mart_path + "_chk")
    assert not os.path.exists(os.path.join(mart_path, "_chk"))
    assert read_mart(spark, mart_path).count() > 1


def test_band_index_ignores_hidden_files(spark, tmp_path):
    """'.'-prefixed strays (.DS_Store, editor temps) and '_'-prefixed
    sidecars (_SUCCESS) follow Spark's own hidden-file convention; the
    layout guard must skip them — classifying a stray dotfile as data
    would permanently wedge the stream on a perfectly valid index."""
    from pyspark_etl_project_spark.streaming.ingest import band_index_batch

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .filter(F.col("doc_id") < 40).select("doc_id", "text"))
    path = str(tmp_path / "bands")
    band_index_batch(docs, path)
    before = spark.read.parquet(path).count()
    (tmp_path / "bands" / ".DS_Store").write_bytes(b"junk")
    (tmp_path / "bands" / "_SUCCESS").write_bytes(b"")
    band_index_batch(docs, path)  # redelivery: no raise, no re-append
    assert spark.read.parquet(path).count() == before


def test_band_index_foreign_bucket_suffix_raises_guard_message(spark, tmp_path):
    """A non-numeric DOC_BUCKET suffix (e.g. a NULL-bucket dir from a
    foreign writer) is a layout violation the guard must explain with
    its own refusal — not crash with a bare int() ValueError that
    names neither the index path nor the rebuild contract."""
    import os

    from pyspark_etl_project_spark.streaming.ingest import (
        DOC_BUCKET_COL, band_index_batch)

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .filter(F.col("doc_id") < 40).select("doc_id", "text"))
    path = str(tmp_path / "bands")
    band_index_batch(docs, path, num_buckets=4)
    os.makedirs(os.path.join(
        path, DOC_BUCKET_COL + "=__HIVE_DEFAULT_PARTITION__"))
    with pytest.raises(ValueError, match="expected DOC_BUCKET=<id> dirs"):
        band_index_batch(docs, path, num_buckets=4)


def test_bucket_pruned_read_names_legacy_layout(spark, tmp_path):
    """A merge pointed at a plain parquet dir (no MART_BUCKET dirs)
    must raise the layout refusal, not an unresolved-MART_BUCKET
    AnalysisException from the fallback read's filter."""
    import pytest

    from pyspark_etl_project_spark.operators.scd2 import read_mart_touched
    from pyspark_etl_project_spark.streaming.ingest import scd2_merge_batch

    t0 = "2020-01-01 00:00:00"
    mart = spark.createDataFrame(
        [(1, "K-1", 10, 1, t0, "2099-12-31 00:00:00")],
        "csd_id long, ssi string, v long, ACTIVE_FLAG int, "
        "START_DATE string, END_DATE string") \
        .withColumn("START_DATE", F.col("START_DATE").cast("timestamp")) \
        .withColumn("END_DATE", F.col("END_DATE").cast("timestamp"))
    mart_path = str(tmp_path / "mart")
    mart.write.parquet(mart_path)

    with pytest.raises(ValueError, match="not in the bucketed layout"):
        read_mart_touched(spark, mart_path, [0, 1])

    batch = spark.createDataFrame([("K-2", 20)], "ssi string, v long")
    with pytest.raises(ValueError, match="expected MART_BUCKET=<id> dirs"):
        scd2_merge_batch(spark, batch, mart_path,
                         run_ts="2024-01-01 00:00:00", key="ssi",
                         surrogate_col="csd_id", num_buckets=16,
                         partition_col=None)


def test_band_index_rejects_null_doc_id(spark, tmp_path):
    """A NULL doc_id hashes to a NULL DOC_BUCKET — writing a
    __HIVE_DEFAULT_PARTITION__ dir the next batch's layout guard calls
    foreign (wedging the stream with a misleading rebuild error) — and
    can never match the left_anti dedup probe, so it would re-append on
    every redelivery. The guard must reject loudly, mirroring
    scd2_merge_batch's NULL natural-key guard."""
    import pytest

    from pyspark_etl_project_spark.streaming.ingest import band_index_batch

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (None, "epsilon zeta eta theta")],
        "doc_id long, text string")
    path = str(tmp_path / "bands")
    with pytest.raises(ValueError, match="NULL doc_id"):
        band_index_batch(docs, path)
    # NULL-doc rows must NOT have been committed (xxhash64(NULL) is the
    # SEED, so without the write-side filter they'd land in an ordinary
    # numeric bucket and silently pollute the index forever — a NULL
    # join key can never be matched by the dedup probe). The valid doc
    # may legitimately be indexed already; the index must not be wedged.
    import os

    if os.path.isdir(path):
        ids = {r["doc_id"] for r in (spark.read.parquet(path)
                                     .select("doc_id").distinct().collect())}
        assert ids <= {1} and None not in ids
    band_index_batch(docs.filter(F.col("doc_id").isNotNull()), path)
    ids = {r["doc_id"] for r in (spark.read.parquet(path)
                                 .select("doc_id").distinct().collect())}
    assert ids == {1}
    # A NULL arriving on the overlap (pre-flight) path must also raise.
    with pytest.raises(ValueError, match="NULL doc_id"):
        band_index_batch(docs, path)
    ids = {r["doc_id"] for r in (spark.read.parquet(path)
                                 .select("doc_id").distinct().collect())}
    assert ids == {1}


def test_check_mart_layout_ignores_dotfiles(spark, tmp_path):
    """'.'-prefixed strays in the mart dir (.DS_Store, editor temps)
    follow the same hidden-entry convention as '_' sidecars — the
    layout probe must not classify them as data and raise the
    layout refusal on a perfectly valid mart."""
    from pyspark_etl_project_spark.operators.scd2 import (
        _check_bucket_layout, write_mart)

    mart = spark.createDataFrame([(1, "K-1", 10)],
                                 "csd_id long, ssi string, v long")
    mart_path = str(tmp_path / "mart")
    write_mart(mart, mart_path, partition_col=None, key="ssi",
               num_buckets=4)
    (tmp_path / "mart" / ".DS_Store").write_bytes(b"junk")
    # Must not raise: the dotfile is hidden, the bucket dirs are the
    # only real entries.
    _check_bucket_layout(spark, mart_path, None, 4)


def test_read_mart_touched_glob_metachar_path(spark, tmp_path):
    """A mart path containing glob metacharacters ([ ]) must still
    bucket-prune correctly: without escaping, the globStatus pattern
    mis-matches and the read silently falls back to the full listing —
    or matches a different directory outright."""
    from pyspark_etl_project_spark.operators.scd2 import (
        mart_bucket, read_mart_touched, write_mart)

    mart = spark.createDataFrame(
        [(i, f"K-{i}", i * 10) for i in range(20)],
        "csd_id long, ssi string, v long")
    mart_path = str(tmp_path / "m[x]" / "mart")
    write_mart(mart, mart_path, partition_col=None, key="ssi",
               num_buckets=4)
    want_bucket = (mart.withColumn("b", mart_bucket("ssi", 4))
                   .filter(F.col("b") == 2))
    got = read_mart_touched(spark, mart_path, [2])
    assert (sorted(r["ssi"] for r in got.collect())
            == sorted(r["ssi"] for r in want_bucket.collect()))


def test_compact_band_index_preserves_rows_and_guard(spark, tmp_path):
    """Compaction may move file boundaries ONLY: rows identical, file
    census reduced, and the index still accepts batches afterward with
    the redelivery guard intact (layout contract preserved)."""
    import glob as _glob

    from pyspark_etl_project_spark.streaming.ingest import (
        band_index_batch, compact_band_index)

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    b1 = docs.filter(F.col("doc_id") < 40)
    b2 = docs.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 80))
    b3 = docs.filter((F.col("doc_id") >= 80) & (F.col("doc_id") < 120))
    path = str(tmp_path / "bands")
    for b in (b1, b2, b3):
        band_index_batch(b, path)

    def state():
        return sorted(tuple(r) for r in spark.read.parquet(path).collect())

    before_rows = state()
    before_files = len(_glob.glob(str(tmp_path / "bands" / "*" / "*.parquet")))
    after_files = compact_band_index(spark, path, files_per_bucket=1)
    assert after_files < before_files
    assert state() == before_rows
    # Guard + dedup still work on the compacted layout.
    band_index_batch(b3, path)  # redelivery: appends nothing
    assert state() == before_rows
    b4 = docs.filter((F.col("doc_id") >= 120) & (F.col("doc_id") < 140))
    band_index_batch(b4, path)  # fresh batch still lands
    assert len(state()) > len(before_rows)


def test_band_index_empty_batch_fast_path(spark, tmp_path):
    """An empty (or all-empty-text) batch through the virgin-index fast
    path must return an empty touched set without hanging on the
    Observation (metrics over a zero-row write) — and a later real
    batch still lands normally."""
    from pyspark_etl_project_spark.streaming.ingest import band_index_batch

    path = str(tmp_path / "bands")
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert band_index_batch(empty, path) == set()
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .filter(F.col("doc_id") < 20).select("doc_id", "text"))
    touched = band_index_batch(docs, path)
    assert touched
    assert spark.read.parquet(path).count() > 0


def test_stream_documents_sparse_ids_keep_file_count(spark, tmp_path):
    """Gapped doc_id ranges leave empty chunks; the source must still
    expose exactly `files` parquet files (= micro-batches under
    maxFilesPerTrigger=1) so split-invariance runs genuinely split."""
    import glob as _glob
    import os

    from pyspark_etl_project_spark.streaming.ingest import stream_documents

    # Write a doc table whose ids cluster at the range ends — the
    # middle chunk's range is empty.
    src_dir = str(tmp_path / "sfx")
    os.makedirs(src_dir)
    docs = spark.createDataFrame(
        [(300, "alpha beta gamma delta"), (301, "beta gamma delta eps"),
         (998, "omega psi chi phi"), (999, "psi chi phi upsilon")],
        "doc_id long, text string")
    docs.coalesce(1).write.parquet(os.path.join(src_dir, "documents.parquet"))

    stream, watch = stream_documents(spark, src_dir, min_doc_id=300,
                                     files=3)
    files = _glob.glob(os.path.join(watch, "chunk=*", "*.parquet"))
    assert len(files) == 3
    batches = []
    q = (stream.writeStream
         .foreachBatch(lambda b, _e: batches.append(b.count()))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(batches) == 3 and sum(batches) == 4


def test_band_index_glob_metachar_path(spark, tmp_path):
    """A band-index root containing glob metacharacters must still
    dedupe correctly end-to-end: the probe's dir reads and the
    compaction rewrite glob-escape their reader paths (Spark
    glob-expands read paths; write/rename APIs are literal)."""
    from pyspark_etl_project_spark.streaming.ingest import (
        band_index_batch, compact_band_index)

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    b1 = docs.filter(F.col("doc_id") < 40)
    b2 = docs.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 60))
    path = str(tmp_path / "i[x]" / "bands")

    def state():
        return sorted(tuple(r) for r in spark.read.parquet(
            path.replace("[", "\\[").replace("]", "\\]")).collect())

    band_index_batch(b1, path)
    after_b1 = state()
    band_index_batch(b1, path)  # redelivery must probe the right dirs
    assert state() == after_b1
    band_index_batch(b2, path)
    after_b2 = state()
    assert len(after_b2) > len(after_b1)
    assert compact_band_index(spark, path, files_per_bucket=1) > 0
    assert state() == after_b2


def test_read_mart_touched_metachar_legacy_fallback(spark, tmp_path):
    """The no-touched-dir fallback must also survive a glob-metachar
    mart path: a plain parquet dir under such a path must raise the
    layout refusal (reached only if the fallback resolves the literal
    path), and a bucketed mart whose touched buckets have no dirs yet
    must return the empty slice rather than PATH_NOT_FOUND."""
    import pytest

    from pyspark_etl_project_spark.operators.scd2 import (
        mart_bucket, read_mart_touched, write_mart)

    mart = spark.createDataFrame([(1, "K-1", 10)],
                                 "csd_id long, ssi string, v long")
    foreign_path = str(tmp_path / "m[x]" / "foreign")
    mart.write.parquet(foreign_path)
    with pytest.raises(ValueError, match="not in the bucketed layout"):
        read_mart_touched(spark, foreign_path, [0, 1])

    bucketed_path = str(tmp_path / "m[x]" / "bucketed")
    write_mart(mart, bucketed_path, partition_col=None, key="ssi",
               num_buckets=4)
    b = mart.select(mart_bucket("ssi", 4).alias("b")).first()["b"]
    missing = [x for x in range(4) if x != b][:2]
    got = read_mart_touched(spark, bucketed_path, missing)
    assert got.count() == 0 and "ssi" in got.columns


def test_compact_band_index_refuses_crashed_state(spark, tmp_path):
    """A compaction that crashed mid-swap leaves _precompact/_compacting
    sibling dirs INSIDE the index root; both the next compaction sweep
    and the next streaming batch must refuse loudly (data-loss trap
    documented in compact_small_files) rather than treat the strays as
    data or silently nest live files."""
    import os

    import pytest

    from pyspark_etl_project_spark.streaming.ingest import (
        DOC_BUCKET_COL, band_index_batch, compact_band_index)

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .filter(F.col("doc_id") < 40).select("doc_id", "text"))
    path = str(tmp_path / "bands")
    band_index_batch(docs, path)
    bucket = next(d for d in os.listdir(path)
                  if d.startswith(DOC_BUCKET_COL + "="))
    # Simulate the crash artifact of that bucket's staged rewrite.
    os.makedirs(os.path.join(path, bucket + "_precompact"))
    with pytest.raises(Exception,
                       match="stale backup|expected DOC_BUCKET=<id> dirs"):
        compact_band_index(spark, path)
    with pytest.raises(ValueError, match="expected DOC_BUCKET=<id> dirs"):
        band_index_batch(docs, path)


def test_vacuum_mart_path_rewrites_and_prunes_dead_partitions(spark, tmp_path):
    """On-disk retention: expired-before-horizon versions disappear
    from the persisted mart, surviving history and open rows are
    byte-identical, and a bucket whose rows ALL expired loses its dir
    (dynamic overwrite alone would silently leave the old files)."""
    import os

    from pyspark_etl_project_spark.operators.scd2 import (
        MART_BUCKET_COL, mart_bucket, read_mart, vacuum_mart_path,
        write_mart)

    rows = []
    # Keys chosen at runtime to guarantee one bucket holds ONLY
    # expired rows: find two keys in different buckets.
    probe = spark.createDataFrame(
        [(f"K-{i}",) for i in range(20)], "ssi string") \
        .withColumn("b", mart_bucket("ssi", 4))
    by_bucket = {}
    for r in probe.collect():
        by_bucket.setdefault(r["b"], []).append(r["ssi"])
    (dead_bucket, dead_keys), (live_bucket, live_keys) = \
        [(b, ks) for b, ks in by_bucket.items()][:2]
    # dead bucket: only a version expired long before the horizon
    rows.append((1, dead_keys[0], 10, 0, "2020-01-01 00:00:00",
                 "2020-06-01 00:00:00"))
    # live bucket: one old-expired (drops), one recent-expired
    # (survives), one open row (survives)
    rows.append((2, live_keys[0], 20, 0, "2020-01-01 00:00:00",
                 "2020-06-01 00:00:00"))
    rows.append((3, live_keys[0], 21, 0, "2020-06-01 00:00:00",
                 "2024-01-01 00:00:00"))
    rows.append((4, live_keys[0], 22, 1, "2024-01-01 00:00:00",
                 "2099-12-31 00:00:00"))
    mart = spark.createDataFrame(
        rows, "csd_id long, ssi string, v long, ACTIVE_FLAG int, "
              "START_DATE string, END_DATE string") \
        .withColumn("START_DATE", F.col("START_DATE").cast("timestamp")) \
        .withColumn("END_DATE", F.col("END_DATE").cast("timestamp"))
    path = str(tmp_path / "mart")
    write_mart(mart, path, partition_col=None, key="ssi", num_buckets=4)
    assert os.path.isdir(os.path.join(path, f"{MART_BUCKET_COL}={dead_bucket}"))

    vacuum_mart_path(spark, path, "2023-01-01 00:00:00",
                     partition_col=None, key="ssi", num_buckets=4)
    got = read_mart(spark, path)
    assert sorted(r["csd_id"] for r in got.collect()) == [3, 4]
    # the all-expired bucket's dir is gone, the survivor's remains
    assert not os.path.isdir(
        os.path.join(path, f"{MART_BUCKET_COL}={dead_bucket}"))
    assert os.path.isdir(
        os.path.join(path, f"{MART_BUCKET_COL}={live_bucket}"))


def test_compact_kmv_store_lossless_fold(spark, tmp_path):
    """Folding the KMV store to its k smallest distinct hashes must
    not move the k-th distinct minimum (the estimator input), must
    shrink the file census to one, and must keep accepting appends."""
    import glob as _glob

    from pyspark_etl_project_spark.streaming.ingest import (
        compact_kmv_store, kmv_batch)

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    store = str(tmp_path / "kmv")
    k = 16
    for lo, hi in ((0, 40), (40, 80), (80, 120)):
        kmv_batch(docs.filter((F.col("doc_id") >= lo)
                              & (F.col("doc_id") < hi)), store, k=k)

    def kth():
        cand = spark.read.parquet(store).distinct().orderBy("h").limit(k)
        rows = cand.collect()
        return rows[-1]["h"] if len(rows) == k else None

    before = kth()
    assert before is not None
    files_before = len(_glob.glob(str(tmp_path / "kmv" / "*.parquet")))
    assert files_before >= 3
    assert compact_kmv_store(spark, store, k=k) == 1
    assert kth() == before
    assert len(_glob.glob(str(tmp_path / "kmv" / "*.parquet"))) == 1
    # post-fold appends still merge correctly
    kmv_batch(docs.filter(F.col("doc_id") >= 120), store, k=k)
    after = kth()
    assert after is not None and after <= before
    # crash-mid-swap recovery contract: a leftover _precompact backup
    # dir (the window between the two renames) must refuse loudly
    # BEFORE any data moves, and leave both dirs untouched for
    # inspection.
    import os

    import pytest

    backup = str(tmp_path / "kmv_precompact")
    os.makedirs(backup)
    with pytest.raises(IOError, match="stale backup"):
        compact_kmv_store(spark, store, k=k)
    assert os.path.isdir(backup)
    assert kth() == after  # store untouched by the refused fold


def test_vacuum_mart_path_preserves_schema_evolved_columns(spark, tmp_path):
    """A mart written over time can hold files with DIFFERENT data
    schemas (a later load added a column; older files lack it). The
    vacuum rewrite must preserve the UNION of columns — a
    single-footer schema probe would silently delete the late-added
    column's data from disk (review-found, round 12), which is why the
    probe merges every file's footer."""
    from pyspark_etl_project_spark.operators.scd2 import (
        vacuum_mart_path, write_mart)

    def hist(rows, schema):
        return (spark.createDataFrame(rows, schema)
                .withColumn("START_DATE",
                            F.lit("2020-01-01 00:00:00").cast("timestamp"))
                .withColumn("END_DATE",
                            F.col("END_DATE").cast("timestamp")))

    path = str(tmp_path / "mart")
    # Load 1 (source A): no NEW_COL; one expired row, one survivor.
    write_mart(hist([(1, "K-1", "A", "2020-06-01 00:00:00"),
                     (2, "K-2", "A", "2099-12-31 00:00:00")],
                    "csd_id long, ssi string, SOURCE string, "
                    "END_DATE string"),
               path, partition_col="SOURCE", key="ssi", num_buckets=4)
    # Load 2 (source B): schema evolved — NEW_COL exists only here.
    write_mart(hist([(3, "K-3", "B", "n3", "2099-12-31 00:00:00")],
                    "csd_id long, ssi string, SOURCE string, "
                    "NEW_COL string, END_DATE string"),
               path, partition_col="SOURCE", key="ssi", num_buckets=4)

    vacuum_mart_path(spark, path, "2023-01-01 00:00:00",
                     partition_col="SOURCE", key="ssi", num_buckets=4)
    back = (spark.read.option("mergeSchema", "true").parquet(path)
            .select("csd_id", "NEW_COL").collect())
    got = {(r["csd_id"], r["NEW_COL"]) for r in back}
    # Survivors: 2 (source A, NEW_COL null) and 3 (source B, value kept).
    assert got == {(2, None), (3, "n3")}


def test_vacuum_mart_path_heals_type_widened_mart(spark, tmp_path):
    """A mart whose loads wrote the SAME column at DIFFERENT numeric
    widths (csd_id int in load 1, long in load 2) defeats Spark's
    mergeSchema probe (CANNOT_MERGE_SCHEMAS — Spark never widens), so
    the vacuum's fallback pins the reader-verified supertype from a
    distributed footer scan and the rewrite HEALS the mart: survivors
    come back uniformly bigint, values intact — including one above
    2^31 that an int pin would have corrupted. Each key carries an
    expired older version IN THE SAME LEAF as its open one (the
    standard SCD2 shape), so both leaves are expiry-TOUCHED — the
    pruned vacuum heals exactly the leaves it rewrites."""
    from pyspark_etl_project_spark.operators.scd2 import (
        vacuum_mart_path, write_mart)

    def hist(rows, schema):
        return (spark.createDataFrame(rows, schema)
                .withColumn("START_DATE",
                            F.lit("2020-01-01 00:00:00").cast("timestamp"))
                .withColumn("END_DATE",
                            F.col("END_DATE").cast("timestamp")))

    path = str(tmp_path / "mart")
    # Load 1 (source A): csd_id INT; K-2's expired predecessor + open.
    write_mart(hist([(1, "K-2", "A", "2020-06-01 00:00:00"),
                     (2, "K-2", "A", "2099-12-31 00:00:00")],
                    "csd_id int, ssi string, SOURCE string, "
                    "END_DATE string"),
               path, partition_col="SOURCE", key="ssi", num_buckets=4)
    # Load 2 (source B): csd_id LONG, with a value int cannot hold.
    write_mart(hist([(2 ** 40, "K-3", "B", "2099-12-31 00:00:00"),
                     (2 ** 40 + 1, "K-3", "B", "2020-06-01 00:00:00")],
                    "csd_id long, ssi string, SOURCE string, "
                    "END_DATE string"),
               path, partition_col="SOURCE", key="ssi", num_buckets=4)

    vacuum_mart_path(spark, path, "2023-01-01 00:00:00",
                     partition_col="SOURCE", key="ssi", num_buckets=4)
    # Post-heal the mart is uniform: a PLAIN read (no mergeSchema)
    # must see bigint and both survivors.
    back = spark.read.parquet(path)
    assert dict(back.dtypes)["csd_id"] == "bigint"
    assert {(r["csd_id"], r["ssi"]) for r in
            back.select("csd_id", "ssi").collect()} \
        == {(2, "K-2"), (2 ** 40, "K-3")}


def test_vacuum_mart_path_refuses_unwidenable_type_conflict(
        spark, tmp_path):
    """A footer type mix OUTSIDE the verified reader-upcast lattice
    (csd_id int in load 1, string in load 2) must refuse LOUDLY,
    naming the column and types, with the mart byte-untouched — a
    destructive rewrite may never guess a cast."""
    import glob as _glob

    import pytest

    from pyspark_etl_project_spark.operators.scd2 import (
        vacuum_mart_path, write_mart)

    def hist(rows, schema):
        return (spark.createDataFrame(rows, schema)
                .withColumn("START_DATE",
                            F.lit("2020-01-01 00:00:00").cast("timestamp"))
                .withColumn("END_DATE",
                            F.col("END_DATE").cast("timestamp")))

    path = str(tmp_path / "mart")
    write_mart(hist([(1, "K-1", "A", "2020-06-01 00:00:00")],
                    "csd_id int, ssi string, SOURCE string, "
                    "END_DATE string"),
               path, partition_col="SOURCE", key="ssi", num_buckets=4)
    write_mart(hist([("x2", "K-2", "B", "2099-12-31 00:00:00")],
                    "csd_id string, ssi string, SOURCE string, "
                    "END_DATE string"),
               path, partition_col="SOURCE", key="ssi", num_buckets=4)

    before = sorted(_glob.glob(path + "/**/*.parquet", recursive=True))
    with pytest.raises(ValueError,
                       match="csd_id.*unmergeable footer types"):
        vacuum_mart_path(spark, path, "2023-01-01 00:00:00",
                         partition_col="SOURCE", key="ssi", num_buckets=4)
    after = sorted(_glob.glob(path + "/**/*.parquet", recursive=True))
    assert before == after  # refusal happened before any data moved


def test_vacuum_mart_path_prunes_clean_leaves(spark, tmp_path):
    """The expiry-pruned vacuum touches exactly the leaves the stats
    classify: a CLEAN leaf (nothing expired) keeps its files
    byte-untouched (same paths, same mtimes — at 100 TB this is the
    difference between a 1% rewrite and a 100% rewrite), a TOUCHED
    leaf is rewritten without its expired rows, and a fully-dead
    partition value's subtree is deleted whole. K-1 hashes to bucket
    3, K-2 to bucket 0, K-3 to bucket 1 (xxhash64 % 4) — distinct
    leaves by construction."""
    import glob as _glob
    import os

    from pyspark_etl_project_spark.operators.scd2 import (
        read_mart, vacuum_mart_path, write_mart)

    def hist(rows):
        return (spark.createDataFrame(
            rows, "csd_id long, ssi string, SOURCE string, "
                  "END_DATE string")
            .withColumn("START_DATE",
                        F.lit("2020-01-01 00:00:00").cast("timestamp"))
            .withColumn("END_DATE", F.col("END_DATE").cast("timestamp")))

    path = str(tmp_path / "mart")
    write_mart(hist([
        (1, "K-2", "A", "2099-12-31 00:00:00"),     # clean leaf (A, 0)
        (2, "K-1", "A", "2020-06-01 00:00:00"),     # touched leaf (A, 3)
        (3, "K-1", "A", "2099-12-31 00:00:00"),
        (4, "K-3", "GONE", "2020-06-01 00:00:00"),  # dead leaf + parent
    ]), path, partition_col="SOURCE", key="ssi", num_buckets=4)

    def listing(d):
        return sorted((p, os.path.getmtime(p)) for p in
                      _glob.glob(os.path.join(d, "*.parquet")))

    clean_dir = os.path.join(path, "SOURCE=A", "MART_BUCKET=0")
    touched_dir = os.path.join(path, "SOURCE=A", "MART_BUCKET=3")
    clean_before = listing(clean_dir)
    touched_before = listing(touched_dir)
    assert clean_before and touched_before

    vacuum_mart_path(spark, path, "2023-01-01 00:00:00",
                     partition_col="SOURCE", key="ssi", num_buckets=4)
    assert listing(clean_dir) == clean_before        # byte-untouched
    assert listing(touched_dir) != touched_before    # rewritten
    assert not os.path.isdir(os.path.join(path, "SOURCE=GONE"))
    got = {(r["csd_id"], r["ssi"]) for r in
           read_mart(spark, path).select("csd_id", "ssi").collect()}
    assert got == {(1, "K-2"), (3, "K-1")}

    # Second vacuum at the same horizon: everything is now clean —
    # a pure no-op, nothing rewritten anywhere.
    all_before = sorted((p, os.path.getmtime(p)) for p in
                        _glob.glob(path + "/**/*.parquet",
                                   recursive=True))
    vacuum_mart_path(spark, path, "2023-01-01 00:00:00",
                     partition_col="SOURCE", key="ssi", num_buckets=4)
    assert sorted((p, os.path.getmtime(p)) for p in
                  _glob.glob(path + "/**/*.parquet",
                             recursive=True)) == all_before


def test_vacuum_mart_path_escaped_values_and_empty_refusal(spark, tmp_path):
    """Survivor comparison must happen in escaped-dir-name space: a
    partition value with a Hive-escaped character (':') must survive
    the dead-dir sweep. And a horizon that would empty the mart must
    refuse loudly instead of leaving an unreadable file-less root."""
    import os

    import pytest

    from pyspark_etl_project_spark.operators.scd2 import (
        read_mart, vacuum_mart_path, write_mart)

    mart = spark.createDataFrame(
        [(1, "K-1", "src:a", 1, "2024-01-01 00:00:00",
          "2099-12-31 00:00:00"),
         # Empty-string partition value: Spark writes it to the
         # __HIVE_DEFAULT_PARTITION__ dir (same as NULL) — the sweep
         # must render the survivor the same way or it deletes a LIVE
         # just-rewritten partition.
         (2, "K-2", "", 1, "2024-01-01 00:00:00",
          "2099-12-31 00:00:00"),
         # A partition whose rows ALL expire: the sweep must remove
         # the parent SOURCE=gone dir itself, not just its bucket
         # leaves (an empty `SOURCE=x` shell would survive a
         # leaf-only sweep).
         (3, "K-3", "gone", 0, "2020-01-01 00:00:00",
          "2020-06-01 00:00:00"),
         # A numeric-LOOKING string partition value: partition type
         # inference would read '0123' back as int 123 and the
         # rewrite would silently rename the dir — retention must
         # round-trip values verbatim.
         (4, "K-4", "0123", 1, "2024-01-01 00:00:00",
          "2099-12-31 00:00:00")],
        "csd_id long, ssi string, SOURCE string, ACTIVE_FLAG int, "
        "START_DATE string, END_DATE string") \
        .withColumn("START_DATE", F.col("START_DATE").cast("timestamp")) \
        .withColumn("END_DATE", F.col("END_DATE").cast("timestamp"))
    path = str(tmp_path / "mart")
    write_mart(mart, path, partition_col="SOURCE", key="ssi",
               num_buckets=4)
    escaped = [d for d in os.listdir(path) if d.startswith("SOURCE=")]
    assert any(":" not in d and "%3A" in d for d in escaped), escaped
    assert "SOURCE=__HIVE_DEFAULT_PARTITION__" in escaped

    vacuum_mart_path(spark, path, "2023-01-01 00:00:00",
                     partition_col="SOURCE", key="ssi", num_buckets=4)
    got = read_mart(spark, path)
    assert sorted(r["csd_id"] for r in got.collect()) == [1, 2, 4]
    assert os.path.isdir(
        os.path.join(path, "SOURCE=__HIVE_DEFAULT_PARTITION__"))
    assert not os.path.isdir(os.path.join(path, "SOURCE=gone"))
    # verbatim round-trip: the dir keeps its leading zero, and no
    # inference-renamed twin appeared
    assert os.path.isdir(os.path.join(path, "SOURCE=0123"))
    assert not os.path.isdir(os.path.join(path, "SOURCE=123"))

    with pytest.raises(ValueError, match="refusing to vacuum"):
        vacuum_mart_path(spark, path, "2100-01-01 00:00:00",
                         partition_col="SOURCE", key="ssi",
                         num_buckets=4)
    assert read_mart(spark, path).count() == 3  # untouched after refusal


def test_vacuum_mart_path_progressive_heal_across_vacuums(spark, tmp_path):
    """The expiry-pruned vacuum + the type-widening heal COMPOSE: a
    clean leaf keeps its narrow on-disk vintage (byte-untouched) while
    a touched leaf heals, leaving a mixed-vintage mart that every
    vacuum-side pinned read still handles — and a later vacuum whose
    horizon touches the remaining narrow leaf heals it too, converging
    the mart to the uniform wide schema with values (incl. one above
    2^31) intact. This is the documented progressive-heal contract of
    SCALE.md's round-13 record."""
    import glob as _glob
    import os

    from pyspark_etl_project_spark.operators.scd2 import (
        vacuum_mart_path, write_mart)

    def hist(rows, schema):
        return (spark.createDataFrame(rows, schema)
                .withColumn("START_DATE",
                            F.lit("2020-01-01 00:00:00").cast("timestamp"))
                .withColumn("END_DATE",
                            F.col("END_DATE").cast("timestamp")))

    path = str(tmp_path / "mart")
    # Source A: csd_id INT vintage; expired-but-not-yet (END 2024) +
    # open — CLEAN at the first horizon, TOUCHED at the second.
    write_mart(hist([(1, "K-1", "A", "2024-06-01 00:00:00"),
                     (2, "K-1", "A", "2099-12-31 00:00:00")],
                    "csd_id int, ssi string, SOURCE string, "
                    "END_DATE string"),
               path, partition_col="SOURCE", key="ssi", num_buckets=4)
    # Source B: csd_id LONG vintage with a >2^31 value; one expired
    # row makes it TOUCHED at the first horizon.
    write_mart(hist([(2 ** 40, "K-3", "B", "2020-06-01 00:00:00"),
                     (2 ** 40 + 1, "K-3", "B", "2099-12-31 00:00:00")],
                    "csd_id long, ssi string, SOURCE string, "
                    "END_DATE string"),
               path, partition_col="SOURCE", key="ssi", num_buckets=4)

    def listing(sub):
        return sorted((p, os.path.getmtime(p)) for p in
                      _glob.glob(os.path.join(path, sub, "**", "*.parquet"),
                                 recursive=True))

    a_before = listing("SOURCE=A")
    # Vacuum 1 (horizon 2023): A clean, B touched -> only B heals.
    vacuum_mart_path(spark, path, "2023-01-01 00:00:00",
                     partition_col="SOURCE", key="ssi", num_buckets=4)
    assert listing("SOURCE=A") == a_before          # narrow vintage kept
    b_healed = spark.read.parquet(os.path.join(path, "SOURCE=B"))
    assert dict(b_healed.dtypes)["csd_id"] == "bigint"
    assert [r["csd_id"] for r in b_healed.collect()] == [2 ** 40 + 1]

    # Vacuum 2 (horizon 2025): the mart is now MIXED-vintage (A int,
    # B bigint) — the pinned read must still widen; A is touched and
    # heals, B is clean and stays byte-untouched.
    b_before = listing("SOURCE=B")
    vacuum_mart_path(spark, path, "2025-01-01 00:00:00",
                     partition_col="SOURCE", key="ssi", num_buckets=4)
    assert listing("SOURCE=B") == b_before
    back = spark.read.parquet(path)                 # plain read: uniform
    assert dict(back.dtypes)["csd_id"] == "bigint"
    assert {(r["csd_id"], r["ssi"], r["SOURCE"]) for r in
            back.select("csd_id", "ssi", "SOURCE").collect()} \
        == {(2, "K-1", "A"), (2 ** 40 + 1, "K-3", "B")}


def test_vacuum_mart_path_deletes_dead_bucket_under_alive_source(
        spark, tmp_path):
    """The dead-leaf deletion's narrow arm: when a partition value
    stays alive through OTHER buckets, a fully-expired bucket leaf is
    deleted alone — the pcol=x parent dir and its clean sibling
    buckets stay byte-untouched (the whole-subtree arm is tested in
    test_vacuum_mart_path_prunes_clean_leaves). K-1 hashes to bucket 3
    and K-2 to bucket 0 under num_buckets=4."""
    import glob as _glob
    import os

    from pyspark_etl_project_spark.operators.scd2 import (
        read_mart, vacuum_mart_path, write_mart)

    def hist(rows):
        return (spark.createDataFrame(
            rows, "csd_id long, ssi string, SOURCE string, "
                  "END_DATE string")
            .withColumn("START_DATE",
                        F.lit("2020-01-01 00:00:00").cast("timestamp"))
            .withColumn("END_DATE", F.col("END_DATE").cast("timestamp")))

    path = str(tmp_path / "mart")
    write_mart(hist([
        (1, "K-2", "A", "2020-06-01 00:00:00"),   # (A, bucket 0): all dead
        (2, "K-2", "A", "2021-06-01 00:00:00"),
        (3, "K-1", "A", "2099-12-31 00:00:00"),   # (A, bucket 3): clean
    ]), path, partition_col="SOURCE", key="ssi", num_buckets=4)

    clean_dir = os.path.join(path, "SOURCE=A", "MART_BUCKET=3")
    clean_before = sorted((p, os.path.getmtime(p)) for p in
                          _glob.glob(os.path.join(clean_dir, "*.parquet")))
    assert clean_before

    vacuum_mart_path(spark, path, "2023-01-01 00:00:00",
                     partition_col="SOURCE", key="ssi", num_buckets=4)
    assert not os.path.isdir(os.path.join(path, "SOURCE=A",
                                          "MART_BUCKET=0"))
    assert os.path.isdir(os.path.join(path, "SOURCE=A"))
    assert sorted((p, os.path.getmtime(p)) for p in
                  _glob.glob(os.path.join(clean_dir, "*.parquet"))) \
        == clean_before
    assert {(r["csd_id"], r["ssi"]) for r in
            read_mart(spark, path).select("csd_id", "ssi").collect()} \
        == {(3, "K-1")}
