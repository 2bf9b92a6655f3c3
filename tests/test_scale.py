"""Plan-property regression tests: lock in the physical-plan guarantees
SCALE.md documents (shuffle-freedom, broadcast strategy, pushdown).
These fail if a refactor silently degrades a plan, even while values
stay correct."""

from __future__ import annotations

from pyspark.sql import functions as F

SF_SMALL = "/root/testdata/sf0.001"


def _executed_plan(df) -> str:
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


# Shared plan primitives live in conftest (r15 ADVICE: one copy).
from conftest import formatted_plan as _formatted_plan  # noqa: E402


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Both sides bucketed+sorted on the key -> the equi-join must run
    with ZERO exchanges (the 100 TB co-located fact-fact join layout)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bkt LOCATION '{tmp_path}/wh'")
    a = spark.range(0, 10000).select(F.col("id").alias("k"),
                                     (F.col("id") * 2).alias("va"))
    b = spark.range(0, 10000).select(F.col("id").alias("k"),
                                     (F.col("id") * 3).alias("vb"))
    a.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bkt.ta")
    b.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bkt.tb")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bkt.ta").join(spark.table("bkt.tb"), "k")
        plan = _executed_plan(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == 10000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE bkt.ta")
        spark.sql("DROP TABLE bkt.tb")


def test_dimension_lookups_broadcast_never_sortmerge(spark):
    from pyspark_etl_project_spark.plans.parity import join_dim_broadcast

    plan = _formatted_plan(join_dim_broadcast(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_compiles_to_take_ordered_not_global_sort(spark):
    from pyspark_etl_project_spark.plans.parity import topk_limit

    plan = _formatted_plan(topk_limit(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan
    # no exchange at all: per-partition heaps + driver merge of k rows
    assert "Exchange" not in plan


def test_filters_and_projection_reach_parquet_scan(spark):
    from pyspark_etl_project_spark.plans.parity import scan_filter_project

    plan = _formatted_plan(scan_filter_project(spark, SF_SMALL))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # read schema is the projected columns only, not the 16-col table
    import re
    cols = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    assert cols.count(",") + 1 <= 6, cols


def test_scd2_dense_ids_never_single_partition_window(spark):
    """The dense-id path must not plan an unpartitioned WindowExec
    (the 'No Partition Defined' scale killer)."""
    from pyspark_etl_project_spark.operators.scd2 import dense_row_number

    df = spark.range(0, 1000).select(F.col("id").cast("string").alias("k"))
    plan = _formatted_plan(dense_row_number(df, ["k"], "rid"))
    import re
    for m in re.finditer(r"Arguments: \[.*windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        # every window spec must carry a partition expression
        assert "_dense_pid" in spec, plan


def test_mart_write_is_dynamic_partition_overwrite(spark, tmp_path,
                                                   monkeypatch):
    """Writing one source's slice must leave other sources' partition
    files physically untouched; rewriting the path from a read of itself
    needs no materialized copy."""
    import os

    from pyspark_etl_project_spark.operators.scd2 import read_mart, write_mart

    path = str(tmp_path / "mart")
    schema = ("CSD_ID long, SOURCE_ID int, SOURCE_SYSTEM_IDENTIFIER string, "
              "v string")
    both = spark.createDataFrame([(1, 1, "k", "a"), (2, 2, "k", "b")], schema)
    write_mart(both, path, num_buckets=4)

    def mtimes(sid):
        d = os.path.join(path, f"SOURCE_ID={sid}")
        return {os.path.join(r, f): os.path.getmtime(os.path.join(r, f))
                for r, _dirs, files in os.walk(d)
                for f in files if f.endswith(".parquet")}

    before_s1, before_s2 = mtimes(1), mtimes(2)
    only_s1 = spark.createDataFrame([(3, 1, "k", "a2")], schema)
    write_mart(only_s1, path, num_buckets=4)
    assert mtimes(2) == before_s2          # source 2 files untouched
    assert mtimes(1) != before_s1          # source 1 partition replaced
    rows = {(r["CSD_ID"], r["SOURCE_ID"], r["v"])
            for r in read_mart(spark, path).collect()}
    assert rows == {(3, 1, "a2"), (2, 2, "b")}

    # Read -> transform -> overwrite of the SAME path, unmaterialized:
    # the staged dynamic-overwrite commit isolates the read, and the
    # write pins no cached plan over the path (at commit Spark re-plans
    # every cached plan that reads it). The cache is probed at the
    # writer call inside write_mart, with the keyword perfbench passes.
    from pyspark.sql.readwriter import DataFrameWriter

    spark.catalog.clearCache()     # earlier tests' lazy pins
    cm = spark._jsparkSession.sharedState().cacheManager()
    cache_empty_at_write = []
    real_parquet = DataFrameWriter.parquet

    def probed(self, *a, **kw):
        cache_empty_at_write.append(cm.isEmpty())
        return real_parquet(self, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", probed)
    write_mart(read_mart(spark, path).withColumn("v", F.upper("v")),
               path, num_buckets=4, materialize_first=True)
    monkeypatch.undo()
    assert cache_empty_at_write == [True] and cm.isEmpty()
    rows = {(r["CSD_ID"], r["SOURCE_ID"], r["v"])
            for r in read_mart(spark, path).collect()}
    assert rows == {(3, 1, "A2"), (2, 2, "B")}


def test_scd2_merge_scans_mart_once(spark, tmp_path):
    """The merge reads the mart in ONE scan: expiry is a left join to
    the broadcast arrival keys plus a projection, not a semi/anti split
    that re-reads the mart per branch."""
    import re

    from pyspark_etl_project_spark.operators.scd2 import (
        read_mart, scd2_merge, write_mart)

    path = str(tmp_path / "mart")
    schema = ("CSD_ID long, SOURCE_ID int, SOURCE_SYSTEM_IDENTIFIER string, "
              "v string, ACTIVE_FLAG int, START_DATE timestamp, "
              "END_DATE timestamp")
    write_mart(spark.createDataFrame([(1, 1, "k", "a0", 1, None, None)],
                                     schema), path, num_buckets=4)
    arrivals = spark.createDataFrame(
        [(1, "k", "a")], "SOURCE_ID int, SOURCE_SYSTEM_IDENTIFIER string, "
        "v string")
    merged = scd2_merge(read_mart(spark, path), arrivals,
                        run_ts="2024-01-01 00:00:00", surrogate_offset=0,
                        cache_arrivals=False)
    plan = _formatted_plan(merged)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 1, plan


def test_mart_bucketed_write_prunes_untouched_buckets(spark, tmp_path):
    """With the (SOURCE_ID, MART_BUCKET) layout and a touched-keys
    prune, an incremental load must physically rewrite ONLY the bucket
    its changed key hashes to — every other bucket's files stay
    byte-level untouched (name + mtime) instead of ~1/3 of the mart."""
    import os

    from pyspark_etl_project_spark.operators.scd2 import (
        mart_bucket, read_mart, write_mart)

    path = str(tmp_path / "mart")
    schema = ("CSD_ID long, SOURCE_ID int, "
              "SOURCE_SYSTEM_IDENTIFIER string, v string")
    full = spark.createDataFrame(
        [(i, 1, f"k{i}", "v0") for i in range(40)], schema).repartition(4)
    write_mart(full, path, num_buckets=8)

    def bucket_files():
        out = {}
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    fp = os.path.join(root, f)
                    out.setdefault(os.path.relpath(root, path), {})[f] = \
                        os.path.getmtime(fp)
        return out

    before = bucket_files()
    assert len(before) > 1          # keys actually spread across buckets
    # The write is clustered by (source, bucket): one file per bucket
    # dir, although every bucket's rows were spread over all 4 input
    # partitions.
    assert full.rdd.getNumPartitions() == 4
    assert all(len(files) == 1 for files in before.values()), before

    merged = (full.filter(F.col("SOURCE_SYSTEM_IDENTIFIER") != "k3")
                  .unionByName(spark.createDataFrame(
                      [(100, 1, "k3", "v1")], schema)))
    touched = spark.createDataFrame([("k3",)],
                                    "SOURCE_SYSTEM_IDENTIFIER string")
    write_mart(merged, path, num_buckets=8, touched_keys=touched, source_id=1)

    tbucket = (spark.createDataFrame([("k3",)], "SOURCE_SYSTEM_IDENTIFIER string")
               .select(mart_bucket("SOURCE_SYSTEM_IDENTIFIER", 8).alias("b"))
               .first()["b"])
    after = bucket_files()
    hot = f"SOURCE_ID=1/MART_BUCKET={tbucket}"
    for part, files in before.items():
        if part == hot:
            assert after[part] != files          # replaced
        else:
            assert after[part] == files          # untouched
    back = read_mart(spark, path)
    assert back.count() == 40
    assert [(r["CSD_ID"], r["v"]) for r in
            back.filter(F.col("SOURCE_SYSTEM_IDENTIFIER") == "k3").collect()] \
        == [(100, "v1")]


def test_mart_write_rejects_layout_mismatch(spark, tmp_path):
    """Dynamic overwrite never deletes partitions the incoming frame
    doesn't produce, so writing into a directory another writer laid
    out (plain files, missing partition dirs, or a changed
    num_buckets) would duplicate rows on read. write_mart must refuse
    instead of mixing layouts. Each foreign directory is written
    without write_mart."""
    import pytest

    from pyspark_etl_project_spark.operators.scd2 import read_mart, write_mart

    schema = ("CSD_ID long, SOURCE_ID int, "
              "SOURCE_SYSTEM_IDENTIFIER string, v string")
    rows = [(i, 1, f"k{i}", "v0") for i in range(10)]
    df = spark.createDataFrame(rows, schema)

    # Foreign dir: plain parquet files where MART_BUCKET dirs belong.
    plain = str(tmp_path / "plain")
    df.write.parquet(plain)
    with pytest.raises(ValueError, match="expected MART_BUCKET=<id> dirs"):
        write_mart(df, plain, partition_col=None, num_buckets=8)
    # Missing partition dirs: the same files where SOURCE_ID dirs belong.
    with pytest.raises(ValueError, match="expected SOURCE_ID=<value> dirs"):
        write_mart(df, plain, num_buckets=8)
    # Partition dirs holding files instead of bucket dirs.
    by_source = str(tmp_path / "by_source")
    df.write.partitionBy("SOURCE_ID").parquet(by_source)
    with pytest.raises(ValueError, match="expected MART_BUCKET=<id> dirs"):
        write_mart(df, by_source, num_buckets=8)
    # Bucket ids at or above num_buckets.
    wide = str(tmp_path / "wide")
    (df.withColumn("MART_BUCKET", F.lit(9))
       .write.partitionBy("SOURCE_ID", "MART_BUCKET").parquet(wide))
    with pytest.raises(ValueError, match="num_buckets must stay constant"):
        write_mart(df, wide, num_buckets=8)

    bucketed = str(tmp_path / "bucketed")
    write_mart(df, bucketed, num_buckets=8)
    with pytest.raises(ValueError, match="expected MART_BUCKET=<id> dirs"):
        write_mart(df, bucketed, partition_col=None, num_buckets=8)
    with pytest.raises(ValueError, match="num_buckets must stay constant"):
        write_mart(df, bucketed, num_buckets=4)

    # same layout re-write stays allowed, and data still reads clean
    write_mart(df, bucketed, num_buckets=8)
    assert read_mart(spark, bucketed).count() == 10


def test_jaccard_stop_shingle_ceiling(spark):
    """A boilerplate shingle shared by every doc must be pruned from the
    inverted index before the pair join (the d² candidate blowup guard),
    while pairs that also share rare shingles survive with exact math."""
    from pyspark_etl_project_spark.extensions.dedup import jaccard_pairs

    hot = "all rights reserved"
    rows = [(i, [hot, f"unique shingle {i}"]) for i in range(10)]
    # docs 100/101 share a rare shingle besides the hot one
    rows += [(100, [hot, "rare shared thing"]), (101, [hot, "rare shared thing"])]
    df = spark.createDataFrame(rows, "doc_id long, sh array<string>")

    out = jaccard_pairs(df, "doc_id", "sh", threshold_num=1, threshold_den=4,
                        max_doc_freq=3)
    got = {(r["id_a"], r["id_b"]): (r["inter_n"], r["union_n"])
           for r in out.collect()}
    # only the rare-shingle pair survives; inter_n counts surviving
    # shingles but union_n stays exact (sz_a + sz_b - inter)
    assert got == {(100, 101): (1, 3)}

    # uncapped: every pair sharing only the hot shingle floods through
    flood = jaccard_pairs(df, "doc_id", "sh", 1, 4, max_doc_freq=None)
    assert flood.count() == 12 * 11 // 2


def test_ivf_index_probe_prunes_partitions(spark, tmp_path):
    """A materialized IVF index probed with nprobe cells must read ONLY
    those cells' files (pruning at file listing) and agree with the
    in-memory ivf_topk on the same centroids/query."""
    import random

    from pyspark_etl_project_spark.extensions.similarity import (
        ivf_probe_index,
        ivf_topk,
        ivf_write_index,
    )

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qvec = rows[0][1]
    corpus = emb.filter(F.col("vec_id") != 0)
    centroids = [(r["vec_id"], list(r["embedding"])) for r in
                 emb.filter(F.col("vec_id").between(1, 8)).collect()]

    path = str(tmp_path / "ivf")
    ivf_write_index(corpus, centroids, path)

    probed = ivf_probe_index(spark, path, qvec, centroids, k=5, nprobe=2)
    # the probe's scan must carry a partition-column filter (pruning at
    # file listing — inputFiles() can't show it, the plan does)
    plan = _formatted_plan(probed)
    import re
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "ivf_cell" in pf.group(1), plan
    # and the filter keeps nprobe=2 of the >2 populated cells
    n_cells = (spark.read.parquet(path).select("ivf_cell")
               .distinct().count())
    assert n_cells > 2

    expected = ivf_topk(corpus, qvec, centroid_ids=[c for c, _ in centroids],
                        k=5, nprobe=2)
    got = [(r["vec_id"], r["cos_sim"]) for r in probed.collect()]
    want = [(r["vec_id"], r["cos_sim"]) for r in expected.collect()]
    assert got == want


def test_gap_detection_single_user_shuffle_no_join(spark):
    """Gap detection is a lag() window, never a self-join: exactly the
    window's one user_id exchange, no join operator in the plan."""
    from pyspark_etl_project_spark.plans.analytics_plans import (
        event_gap_detection_q)

    import re

    plan = _formatted_plan(event_gap_detection_q(spark, SF_SMALL))
    assert "Join" not in plan
    # one physical Exchange node (each node appears once in the detail
    # section as "(n) Exchange"; the tree echo doesn't match this form)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_cohort_retention_joins_on_grouping_key(spark):
    """The cohort join must stay a key-equi join (broadcast or
    co-partitioned sort-merge under AQE) — never nested-loop/cartesian."""
    from pyspark_etl_project_spark.plans.analytics_plans import (
        cohort_retention_weekly_q)

    plan = _formatted_plan(cohort_retention_weekly_q(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_curated_corpus_write_prunes_and_stats_match(spark, tmp_path):
    """Reading one split of the partitioned corpus must carry a
    partition filter (pruning at file listing), and the stats sidecar
    must agree with the data files."""
    from pyspark_etl_project_spark.extensions.corpus import (
        corpus_stats, read_corpus, write_curated_corpus)

    rows = [(i, "train" if i % 10 else "val", "en" if i % 3 else "de", 5 + i % 7)
            for i in range(200)]
    df = spark.createDataFrame(
        rows, "doc_id long, split string, lang string, n_tokens long")
    path = str(tmp_path / "corpus")
    write_curated_corpus(df, path)

    train = read_corpus(spark, path, split="train")
    plan = _formatted_plan(train)
    import re
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "split" in pf.group(1), plan
    assert train.count() == sum(1 for r in rows if r[1] == "train")

    stats = {(r["split"], r["lang"]): (r["n_docs"], r["total_tokens"])
             for r in corpus_stats(spark, path).collect()}
    for (s, lg), (n, tot) in stats.items():
        want = [r for r in rows if r[1] == s and r[2] == lg]
        assert n == len(want) and tot == sum(r[3] for r in want)


def test_weighted_sample_is_map_only(spark):
    """The Bernoulli filter must compile to a scan + project/filter with
    ZERO exchanges — any shuffle here would be a design regression."""
    from pyspark_etl_project_spark.plans.extensions import (
        weighted_quality_sample_q)

    plan = _formatted_plan(weighted_quality_sample_q(spark, SF_SMALL))
    assert "Exchange" not in plan


def test_dup_span_marking_is_join_not_window(spark):
    """Duplicated-gram marking must be a (skew-splittable) join after a
    map-combined groupBy — never a count window partitioned on the gram
    (one-task funnel for a boilerplate gram). The plan therefore has a
    partial aggregate and NO Window node before the doc-keyed phase's
    running max (exactly one Window total, on the doc key)."""
    from pyspark_etl_project_spark.plans.extensions import dup_span_stats_q

    import re

    plan = _formatted_plan(dup_span_stats_q(spark, SF_SMALL))
    nodes = re.findall(r"\(\d+\) Window\n(Input[^\n]*\nArguments[^\n]*)",
                       plan)
    assert len(nodes) == 1, plan.count(") Window")
    assert "_gram" not in nodes[0]
    assert "HashAggregate" in plan


def test_collocations_topk_is_take_ordered(spark):
    from pyspark_etl_project_spark.plans.extensions import collocations_topk_q

    plan = _formatted_plan(collocations_topk_q(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan


def test_corpus_join_uses_dynamic_partition_pruning(spark, tmp_path):
    """Joining the split-partitioned curated corpus against a FILTERED
    small dim on the partition column must plan dynamic partition
    pruning — at 100 TB the fact scan reads only the splits the dim
    survives, decided at runtime from the broadcast."""
    import pyspark.sql.functions as F

    from pyspark_etl_project_spark.extensions.corpus import (
        write_curated_corpus)
    from pyspark_etl_project_spark.plans.tables import load

    docs = (load(spark, SF_SMALL, "documents")
            .select("doc_id", "text", "lang", "source",
                    (F.col("doc_id") % 3).cast("string").alias("split")))
    path = str(tmp_path / "corpus")
    write_curated_corpus(docs, path)
    corpus = spark.read.parquet(path)
    dim = spark.createDataFrame([("0", 10), ("1", 2)],
                                "split string, w int")
    plan = _formatted_plan(corpus.join(dim.filter("w > 5"), "split"))
    assert "dynamicpruning" in plan.lower()


def test_compact_small_files_preserves_rows_and_bounds_files(spark, tmp_path):
    """64 tiny appended files compact to ceil(n/target) range-sorted
    files with identical row count."""
    import pyspark.sql.functions as F

    from pyspark_etl_project_spark.extensions.layout import (
        compact_small_files)

    src = str(tmp_path / "frag")
    for i in range(8):
        (spark.range(i * 100, (i + 1) * 100)
         .select(F.col("id").alias("k"))
         .repartition(8)
         .write.mode("append").parquet(src))
    import os
    n_src_files = len([f for f in os.listdir(src)
                       if f.endswith(".parquet")])
    assert n_src_files >= 32  # genuinely fragmented
    dst = str(tmp_path / "compact")
    rows, files = compact_small_files(spark, src, dst, "k",
                                      target_rows_per_file=200)
    assert rows == 800
    assert files == 4
    assert spark.read.parquet(dst).count() == 800


def test_lsh_prefilter_is_broadcast_equi_join(spark):
    """hard_negative_candidates(prefilter='lsh') must generate
    candidates through a broadcast EQUI-join on the bucket string —
    the corpus is never shuffled and never nested-loop-scored (the
    exact path's BroadcastNestedLoop is exactly what the prefilter
    exists to avoid at 100 TB)."""
    from pyspark_etl_project_spark.extensions.similarity import (
        hard_negative_candidates)
    from pyspark_etl_project_spark.plans.tables import load

    emb = load(spark, SF_SMALL, "embeddings")
    cand = hard_negative_candidates(emb.filter("vec_id >= 8"),
                                    emb.filter("vec_id < 8"),
                                    prefilter="lsh", num_bits=8,
                                    probe_hamming=1)
    plan = _formatted_plan(cand)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_partial_stats_merge_is_take_ordered_never_global_window(spark):
    """column_stats_merge's k-min cut over the unioned hash partials
    must compile to TakeOrderedAndProject (per-partition heaps, k-row
    driver merge) — not a single-task global sort or an unpartitioned
    row_number window. The ONE window in the lineage (the partials'
    per-part k-cut) must carry a partition spec — an empty
    PARTITION BY (the `], [], [` argument shape) would funnel every
    hash through a single task."""
    import re

    from pyspark_etl_project_spark.operators.stats import (
        column_stats_merge, column_stats_partials)
    from pyspark_etl_project_spark.plans.tables import load

    li = load(spark, SF_SMALL, "lineitem")
    scalar, hashes = column_stats_partials(
        li, F.col("l_orderkey") % 8,
        F.floor(F.col("l_extendedprice").cast("decimal(18,6)") * 100)
         .cast("long"), k=16)
    plan = _formatted_plan(column_stats_merge(scalar, hashes, k=16))
    assert "TakeOrderedAndProject" in plan
    assert not re.search(r"\], \[\], \[", plan)  # no unpartitioned window


def test_table_column_stats_has_no_expand_and_prunes_to_one_column(spark):
    """NDV/null/min/max profiling must stay four single-distinct aggs
    over one-column pruned scans. The tempting one-agg form (four
    countDistincts together) makes Catalyst plan an Expand that
    replicates every row once per distinct group (5x) through a
    full-width shuffle — measured 5x slower at sf0.1 and strictly
    worse at scale, where the expand multiplies the table's full row
    volume instead of shuffling per-column distinct values."""
    import re

    from pyspark_etl_project_spark.plans.analytics_plans import (
        table_column_stats_q)

    plan = _formatted_plan(table_column_stats_q(spark, SF_SMALL))
    assert "Expand" not in plan
    # Every lineitem scan reads exactly the one column its agg needs.
    for cols in re.findall(r"ReadSchema: struct<([^>]*)>", plan):
        assert "," not in cols, cols


def test_vacuum_pinned_read_pushes_filter_and_keeps_strings(spark, tmp_path):
    """The vacuum pass's pinned-schema read (round 12: explicit
    merged-footer schema instead of partition discovery) must not cost
    the scan its pushdown: the retention predicate has to reach the
    parquet scan as a PushedFilter (NB: INT96 timestamps carry no
    parquet stats, so the pushed filter cannot row-group-prune on this
    layout — the r13 expiry-pruned vacuum exists for exactly that
    reason; the pushed filter still short-circuits row decoding), the
    read schema must stay column-prunable, and partition columns must
    come back as verbatim STRINGS (numeric-looking dirs like SRC=0123
    must not re-type)."""
    from pyspark_etl_project_spark.operators.scd2 import (
        MART_BUCKET_COL, _vacuum_schema, vacuum_expired, write_mart)

    mart = spark.createDataFrame(
        [(1, "K-1", "0123", "2020-06-01 00:00:00"),
         (2, "K-2", "7", "2099-12-31 00:00:00")],
        "csd_id long, ssi string, SOURCE string, END_DATE string") \
        .withColumn("END_DATE", F.col("END_DATE").cast("timestamp"))
    path = str(tmp_path / "mart")
    write_mart(mart, path, partition_col="SOURCE", key="ssi",
               num_buckets=4)

    r = (spark.read
         .schema(_vacuum_schema(spark, path, ["SOURCE", MART_BUCKET_COL]))
         .parquet(path).drop(MART_BUCKET_COL))
    assert dict(r.dtypes)["SOURCE"] == "string"
    assert {row["SOURCE"] for row in r.select("SOURCE").collect()} \
        == {"0123", "7"}

    plan = _formatted_plan(vacuum_expired(r, "2023-01-01 00:00:00"))
    # Pin pushdown content, not Spark's plan-rendering order: both
    # filters must land in the scan's PushedFilters line, in any order.
    pushed = [l for l in plan.splitlines() if "PushedFilters:" in l]
    assert pushed, plan
    assert "IsNotNull(END_DATE)" in pushed[0]
    assert "GreaterThanOrEqual(END_DATE" in pushed[0]


def test_vacuum_stats_scan_reads_only_end_date(spark, tmp_path):
    """The expiry-pruned vacuum's whole premise is that leaf
    classification costs a SLIVER of mart bytes: the stats frame's
    parquet scan must read exactly END_DATE (partition columns come
    from dir names, not file bytes). If an edit accidentally widens
    that aggregate, this pins the regression at plan level."""
    from pyspark_etl_project_spark.operators.scd2 import (
        MART_BUCKET_COL, _leaf_expiry_stats, _vacuum_schema, write_mart)

    mart = spark.createDataFrame(
        [(1, "K-1", "A", "x" * 20, "2099-12-31 00:00:00")],
        "csd_id long, ssi string, SOURCE string, payload string, "
        "END_DATE string") \
        .withColumn("END_DATE", F.col("END_DATE").cast("timestamp"))
    path = str(tmp_path / "mart")
    write_mart(mart, path, partition_col="SOURCE", key="ssi",
               num_buckets=4)

    part_cols = ["SOURCE", MART_BUCKET_COL]
    full = spark.read.schema(_vacuum_schema(spark, path, part_cols)) \
        .parquet(path)
    plan = _formatted_plan(_leaf_expiry_stats(full, part_cols))
    read = [l for l in plan.splitlines() if "ReadSchema:" in l]
    assert read, plan
    # Exactly the one data column — payload/csd_id/ssi must be pruned.
    assert "END_DATE" in read[0]
    for col in ("payload", "csd_id", "ssi"):
        assert col not in read[0], read[0]


def test_cross_source_overlap_hash_join_never_sortmerge(spark):
    """The overlap matrix is derived from ONE per-fingerprint source set
    (pairs are exploded from it — no self-join), so the only joins left
    are the two broadcast attaches of the tiny per-source totals (one
    keyed on source_a, one on source_b). A SortMergeJoin, a nested loop
    or a cartesian would resurrect the sort/cartesian cost the operator
    is shaped to avoid. (The Exchange count is pinned in
    test_cohort_pins.py.)"""
    import re

    from pyspark_etl_project_spark.extensions.dedup import cross_source_overlap
    from pyspark_etl_project_spark.plans.tables import load

    docs = load(spark, SF_SMALL, "documents").select(
        "doc_id", "text", "source")
    plan = _formatted_plan(cross_source_overlap(docs, "doc_id", "text",
                                                "source"))
    nodes = _nodes(plan)
    for bad in ("SortMergeJoin", "CartesianProduct",
                "BroadcastNestedLoopJoin"):
        assert bad not in nodes, plan
    assert [n for n in nodes if n.endswith("Join")] \
        == ["BroadcastHashJoin"] * 2, plan
    assert sorted(re.findall(r"Left keys \[1\]: \[(source_[ab])#", plan)) \
        == ["source_a", "source_b"], plan


def test_triangle_count_never_plans_a_cartesian(spark):
    """Every join in the degree-ordered triangle count is an equi-join
    on id keys (wedge build on the source, wedge close on the (v, w)
    pair) — a CartesianProduct or BroadcastNestedLoopJoin anywhere in
    the plan means a filter degenerated into a non-equi join and the
    operator would melt on a real graph."""
    from pyspark_etl_project_spark.extensions.graph import triangle_count

    edges = spark.range(200).select(
        F.col("id").alias("src"), ((F.col("id") * 7 + 3) % 200).alias("dst"))
    plan = _formatted_plan(triangle_count(edges))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_topk_for_queries_lsh_arm_is_equi_join(spark):
    """topk_for_queries with num_bits set must score only same-bucket
    pairs through an equi-join on the bucket string — the exact arm's
    BroadcastNestedLoopJoin is the documented |corpus| x |queries| cost
    the LSH cut exists to avoid, so its appearance in the LSH plan is a
    regression."""
    from pyspark_etl_project_spark.extensions.similarity import (
        topk_for_queries)
    from pyspark_etl_project_spark.plans.tables import load

    emb = load(spark, SF_SMALL, "embeddings")
    corpus = emb.filter("vec_id >= 8")
    queries = emb.filter("vec_id < 8").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    plan = _formatted_plan(topk_for_queries(corpus, queries, k=3,
                                            num_bits=8))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_iterative_graph_ops_plan_only_equi_joins(spark):
    """Both iterative graph operators (pagerank_integer's contribution
    join, connected_dedup_clusters' propagation + pointer-doubling
    joins) must plan every join as an equi-join on an id key — a
    nested-loop or cartesian anywhere in an ITERATED plan multiplies
    its cost by the round count, the worst place to degrade."""
    from pyspark_etl_project_spark.extensions.dedup import (
        connected_dedup_clusters)
    from pyspark_etl_project_spark.extensions.graph import pagerank_integer

    nodes = spark.range(64).select(F.col("id"))
    edges = nodes.select(F.col("id").alias("src"),
                         ((F.col("id") + 1) % 64).alias("dst"))
    plan = _formatted_plan(pagerank_integer(nodes, edges, n_iter=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    ids = nodes.select(F.col("id").alias("doc_id"))
    pairs = edges.select(F.col("src").alias("id_a"),
                         F.col("dst").alias("id_b"))
    clustered = connected_dedup_clusters(pairs, ids, max_iters=4)
    plan = _formatted_plan(clustered)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# --- r8 analytics family: scan pruning, pushdown, and join-shape pins -------
# The pure-SQL parity/analytics queries (the round-14 drain window's r8
# cohort) had value-level gates but no plan pins. Each pin below is a
# 100 TB guarantee: a narrow ReadSchema on a wide table is the
# difference between reading 2 columns and reading the documents text
# blob; a pushed key-range filter is the difference between one
# row-group and a full scan; "never nested-loop" bounds the join cost
# at any SF.

from conftest import plan_nodes as _nodes  # noqa: E402
from conftest import read_schema_columns as _read_schemas  # noqa: E402


def test_analytics_aggs_prune_columns_and_keep_one_shuffle(spark):
    """Single-pass grouped aggregates must plan exactly ONE shuffle
    (partial agg -> exchange on the group key -> final agg) and read
    only the referenced columns. char_length_histogram runs on the
    documents table — its ReadSchema must NOT include the text blob,
    which at corpus scale is >99% of the bytes."""
    from pyspark_etl_project_spark.plans.analytics_plans import QUERIES

    for name, want_cols in [("pricing_summary",
                             {"l_returnflag", "l_linestatus", "l_quantity",
                              "l_extendedprice", "l_discount", "l_shipdate"}),
                            ("percentile_profile",
                             {"l_returnflag", "l_quantity"}),
                            ("char_length_histogram",
                             {"lang", "n_chars"})]:
        plan = _formatted_plan(QUERIES[name](spark, SF_SMALL))
        nodes = _nodes(plan)
        assert nodes.count("Exchange") == 1, (name, nodes)
        schemas = _read_schemas(plan)
        assert len(schemas) == 1, (name, schemas)
        got = set(schemas[0])
        assert got == want_cols, (name, got)


def test_analytics_key_range_filters_reach_parquet_scan(spark):
    """The l_orderkey range predicates must appear in PushedFilters —
    on a sorted/bucketed 100 TB lineitem that's row-group pruning, not
    a post-scan filter. pipe_syntax_pricing doubles as the proof that
    Spark 4 pipe syntax compiles to the same pushed-down shape."""
    from pyspark_etl_project_spark.plans.analytics_plans import QUERIES

    for name, pushed in [
            ("order_line_revenue_share", "LessThan(l_orderkey,1000)"),
            ("pipe_syntax_pricing", "LessThan(l_orderkey,1000)"),
            ("window_value_functions", "LessThan(l_orderkey,300)"),
            ("pricing_summary", "LessThanOrEqual(l_shipdate,")]:
        plan = _formatted_plan(QUERIES[name](spark, SF_SMALL))
        assert pushed in plan, (name, pushed)


def test_windowed_analytics_single_shuffle_on_partition_key(spark):
    """Both window queries (running share, first/last/nth) must plan
    exactly one Exchange — the window's hash partitioning on its
    PARTITION BY key — and one Window node; a second shuffle would
    mean the window ran on a different partitioning than it declared."""
    from pyspark_etl_project_spark.plans.analytics_plans import QUERIES

    for name in ["order_line_revenue_share", "window_value_functions"]:
        plan = _formatted_plan(QUERIES[name](spark, SF_SMALL))
        nodes = _nodes(plan)
        assert nodes.count("Exchange") == 1, (name, nodes)
        assert nodes.count("Window") == 1, (name, nodes)


def test_semi_anti_joins_push_their_probe_filters(spark):
    """semi_anti_customers: the EXISTS side's priority filter and the
    NOT-EXISTS side's date filter must be pushed into the two orders
    scans (each probe side reads a 2-column projection, never the
    table), and the joins plan as LeftSemi/LeftAnti hash/merge joins —
    never a nested loop."""
    from pyspark_etl_project_spark.plans.analytics_plans import QUERIES

    plan = _formatted_plan(QUERIES["semi_anti_customers"](spark, SF_SMALL))
    assert "EqualTo(o_orderpriority,1-URGENT)" in plan
    assert "GreaterThanOrEqual(o_orderdate," in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    for schema in _read_schemas(plan):
        assert "o_comment" not in schema and "o_totalprice" not in schema


def test_revenue_join_tree_shape_with_broadcast_disabled(spark):
    """revenue_by_nation_year at cluster scale: with size-based
    broadcasting OFF (simulating fact tables too big to broadcast),
    the two fact joins must degrade to equi SortMerge/ShuffledHash —
    never nested-loop — while the nation dim join STAYS a
    BroadcastHashJoin because the plan requests it explicitly
    (F.broadcast), not via a size estimate that would flip at SF."""
    from pyspark_etl_project_spark.plans.analytics_plans import QUERIES

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = None
        for name in ["revenue_by_nation_year", "promo_revenue_split"]:
            p = _formatted_plan(QUERIES[name](spark, SF_SMALL))
            assert "BroadcastNestedLoopJoin" not in p, name
            assert "CartesianProduct" not in p, name
            if name == "revenue_by_nation_year":
                plan = p  # reuse for the node-count pins below
        nodes = _nodes(plan)
        assert nodes.count("BroadcastHashJoin") == 1, nodes  # nation only
        assert nodes.count("SortMergeJoin") \
            + nodes.count("ShuffledHashJoin") == 2, nodes    # fact joins
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_lateral_topk_decorrelates_to_window_never_per_row(spark):
    """The correlated LATERAL (ORDER BY + LIMIT per outer row) must
    decorrelate to a ranked Window + equi join. A per-outer-row
    execution (nested loop) is O(orders x lineitem) — the plan shape,
    not the values, is what makes this query survive scale. Holds even
    with broadcasting disabled."""
    from pyspark_etl_project_spark.plans.analytics_plans import QUERIES

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _formatted_plan(
            QUERIES["lateral_topk_per_order"](spark, SF_SMALL))
        assert "Window" in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "LessThan(l_orderkey,100)" in plan  # pushed through the
        # decorrelation into the lineitem scan, not applied post-join
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_multi_distinct_and_rollup_are_single_scan_expand(spark):
    """COUNT(DISTINCT x), COUNT(DISTINCT y) + SUM in one agg, and the
    ROLLUP query, must each compile to ONE scan + an Expand — never
    one scan per aggregate/grouping-set (k passes over 100 TB)."""
    from pyspark_etl_project_spark.plans.analytics_plans import (
        QUERIES as AQ)
    from pyspark_etl_project_spark.plans.join_plans import QUERIES as JQ

    plan = _formatted_plan(AQ["distinct_counts_per_group"](spark, SF_SMALL))
    nodes = _nodes(plan)
    assert "Expand" in nodes
    assert nodes.count("Scan") == 1, nodes
    assert nodes.count("Exchange") <= 2, nodes  # two-stage distinct agg

    # r18: the ROLLUP query no longer uses the native Expand (which
    # triples every fact row before the partial agg) — the fact is
    # scanned ONCE into a finest-level-agg localCheckpoint and the
    # grouping levels re-aggregate the tiny intermediate. The original
    # guarantee (never one fact pass per grouping set) still holds,
    # strengthened: the final plan contains NO fact scan at all, only
    # ExistingRDD reads of the 6-row partial frame.
    plan = _formatted_plan(JQ["rollup_flag_status"](spark, SF_SMALL))
    nodes = _nodes(plan)
    assert "Expand" not in nodes, nodes
    assert "Scan parquet" not in plan, plan
    assert all(n in ("Scan", "HashAggregate", "Exchange", "Union",
                     "Project", "AdaptiveSparkPlan", "ResultQueryStage",
                     "ShuffleQueryStage", "AQEShuffleRead")
               for n in nodes), nodes


def test_rollup_flag_status_empty_lineitem_matches_native(spark, tmp_path):
    """On an empty lineitem the Expand-free rollup must return what the
    native GROUP BY ROLLUP of its DuckDB oracle returns: one grand-total
    row whose COUNT(*) is 0 (not NULL) and whose SUM stays NULL."""
    import duckdb

    from pyspark_etl_project_spark.plans.join_plans import ORACLE
    from pyspark_etl_project_spark.plans.join_plans import QUERIES as JQ

    sf = str(tmp_path)
    spark.read.parquet(SF_SMALL + "/lineitem.parquet").limit(0) \
        .write.parquet(sf + "/lineitem.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                f"'{sf}/lineitem.parquet/*.parquet'")
    want = con.execute(ORACLE["rollup_flag_status"]).fetchall()
    got = JQ["rollup_flag_status"](spark, sf).collect()
    assert want == [(None, None, 0, None)]
    assert [tuple(r) for r in got] == want


def _empty_copy_matches_oracle(spark, tmp_path, table: str,
                               query: str) -> list[tuple]:
    """Run ``query`` and its DuckDB oracle over an empty copy of
    ``table``; assert equal rows and return them."""
    import duckdb

    from pyspark_etl_project_spark.plans.analytics_plans import (ORACLE,
                                                                 QUERIES)

    sf = str(tmp_path)
    spark.read.parquet(f"{SF_SMALL}/{table}.parquet").limit(0) \
        .write.parquet(f"{sf}/{table}.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                f"'{sf}/{table}.parquet/*.parquet'")
    want = con.execute(ORACLE[query]).fetchall()
    got = [tuple(r) for r in QUERIES[query](spark, sf).collect()]
    assert got == want
    return got


def test_cube_event_stats_empty_events_matches_native(spark, tmp_path):
    """On an empty events table CUBE still emits the grand-total row
    (gid 3, COUNT 0, SUM NULL), as the DuckDB oracle's native CUBE
    does; Spark's native cube emits nothing."""
    got = _empty_copy_matches_oracle(spark, tmp_path, "events",
                                     "cube_event_stats")
    assert got == [(None, None, 3, 0, None)]


def test_grouping_sets_flag_status_empty_lineitem_matches_native(
        spark, tmp_path):
    """On an empty lineitem the () grouping set still emits the
    grand-total row (COUNT 0, SUM NULL), as the DuckDB oracle does."""
    got = _empty_copy_matches_oracle(spark, tmp_path, "lineitem",
                                     "grouping_sets_flag_status")
    assert got == [(None, None, 0, None)]


def test_variant_extract_reads_only_type_and_props(spark):
    """variant_props_extract on the events table must read exactly
    (event_type, props) — the VARIANT parse must not force a full-row
    read."""
    from pyspark_etl_project_spark.plans.analytics_plans import QUERIES

    plan = _formatted_plan(QUERIES["variant_props_extract"](spark, SF_SMALL))
    schemas = _read_schemas(plan)
    assert len(schemas) == 1
    got = set(schemas[0])
    assert got == {"event_type", "props"}


# --- r9 extension family: shuffle-count and Python-path pins -----------------
# Same treatment as the r8 analytics pins above, for the training-data
# extension queries in the same drain cohort. The guarantees here are
# the ones that decide 100 TB viability: map-only operators must plan
# ZERO exchanges (pure scan→project, no repartition snuck in), top-k
# must stay TakeOrderedAndProject (per-partition heaps, k rows to the
# driver — never a global sort), sessionization must serve all its
# windows from ONE shuffle on the user key, and every Python-assisted
# operator must ride the Arrow batch path (MapInPandas /
# ArrowEvalPython), never row-at-a-time BatchEvalPython.

SF_DOCS = SF_SMALL  # documents/embeddings tables live in the same dir


def _entry_queries():
    import __spark_entry__ as entrymod
    return entrymod.queries()


def test_text_extension_map_only_queries_plan_zero_exchanges(spark):
    """text_stats, lang_id_heuristic, context_window_chunks,
    udtf_sentence_split, array_higher_order_stats: per-document column
    expressions (plus explode/UDTF fan-out) — a single scan, no
    Exchange anywhere. Any shuffle in a map-only operator is pure
    waste at corpus scale."""
    qs = _entry_queries()
    for name in ["text_stats", "lang_id_heuristic",
                 "context_window_chunks", "udtf_sentence_split",
                 "array_higher_order_stats"]:
        plan = _formatted_plan(qs[name](spark, SF_DOCS))
        nodes = _nodes(plan)
        assert nodes.count("Exchange") == 0, (name, nodes)
        assert nodes.count("Scan") == 1, (name, nodes)


def test_text_scans_never_read_unused_document_columns(spark):
    """The documents table's url column is never referenced by
    text_stats or context_window_chunks — it must be pruned from the
    scan (with the text blob, what IS read is already the bulk; an
    unpruned url column would silently widen every corpus scan)."""
    qs = _entry_queries()
    for name in ["text_stats", "context_window_chunks"]:
        plan = _formatted_plan(qs[name](spark, SF_DOCS))
        schemas = _read_schemas(plan)
        assert len(schemas) == 1, (name, schemas)
        assert "url" not in schemas[0], (name, schemas[0])


def test_brute_force_topk_is_take_ordered_no_shuffle(spark):
    """embedding_cosine_topk: the exact-ANN baseline must compile to
    TakeOrderedAndProject over the single scan — per-partition heaps
    and a k-row driver merge, ZERO exchanges. A global sort here is
    the difference between O(k) and O(corpus) bytes moved."""
    qs = _entry_queries()
    plan = _formatted_plan(qs["embedding_cosine_topk"](spark, SF_DOCS))
    nodes = _nodes(plan)
    assert "TakeOrderedAndProject" in nodes, nodes
    assert nodes.count("Exchange") == 0, nodes


def test_sessionize_serves_all_windows_from_one_shuffle(spark):
    """sessionize_events plans TWO Window operators (gap flag, then
    session id) over ONE Exchange: both windows and the downstream agg
    reuse the user-key partitioning. A second shuffle would mean the
    session-id window repartitioned what the gap window had already
    partitioned. session_window_native (the built-in session_window
    agg) must likewise hold at one Exchange."""
    qs = _entry_queries()
    plan = _formatted_plan(qs["sessionize_events"](spark, SF_DOCS))
    nodes = _nodes(plan)
    assert nodes.count("Exchange") == 1, nodes
    assert nodes.count("Window") == 2, nodes

    plan = _formatted_plan(qs["session_window_native"](spark, SF_DOCS))
    nodes = _nodes(plan)
    assert nodes.count("Exchange") == 1, nodes


def test_single_shuffle_extension_aggs_and_samplers(spark):
    """dedup_exact (hash-groupBy dedup), deterministic_split_counts,
    pack_documents_bins and source_quota_sample (window-ranked
    samplers): exactly one Exchange each — partial aggregation /
    ranking happens map-side or inside the single partitioning."""
    qs = _entry_queries()
    for name in ["dedup_exact", "deterministic_split_counts",
                 "pack_documents_bins", "source_quota_sample"]:
        plan = _formatted_plan(qs[name](spark, SF_DOCS))
        nodes = _nodes(plan)
        assert nodes.count("Exchange") == 1, (name, nodes)


def test_multimodal_python_stage_is_arrow_batched_map_only(spark):
    """multimodal_frame_sample's decode stage is Python by necessity —
    it must ride MapInPandas (Arrow batches) with zero Exchange and
    never the row-at-a-time BatchEvalPython path (10-100x slower on
    binary payloads)."""
    qs = _entry_queries()
    plan = _formatted_plan(qs["multimodal_frame_sample"](spark, SF_DOCS))
    nodes = _nodes(plan)
    assert "MapInPandas" in nodes, nodes
    assert "BatchEvalPython" not in nodes, nodes
    assert nodes.count("Exchange") == 0, nodes


def test_r15_cohort_windows_and_cube_single_shuffle(spark):
    """The next drain cohort's windowed/grouping-set analytics:
    cumulative_user_value (running sum) and window_rank_functions
    (rank+dense_rank sharing a frame) must serve ALL their windows
    from one user-key Exchange; cube_event_stats compiles to one scan
    + Expand + one shuffle (never one pass per grouping set); the
    pivot compiles to the two-phase agg (2 exchanges) over a single
    scan. All key-range filters reach the scans."""
    qs = _entry_queries()

    plan = _formatted_plan(qs["cumulative_user_value"](spark, SF_SMALL))
    nodes = _nodes(plan)
    assert nodes.count("Exchange") == 1, nodes
    assert "LessThan(user_id,50)" in plan

    plan = _formatted_plan(qs["window_rank_functions"](spark, SF_SMALL))
    nodes = _nodes(plan)
    assert nodes.count("Exchange") == 1, nodes
    assert nodes.count("Window") == 2, nodes
    assert "LessThan(user_id,30)" in plan

    plan = _formatted_plan(qs["cube_event_stats"](spark, SF_SMALL))
    nodes = _nodes(plan)
    assert "Expand" in nodes
    assert nodes.count("Scan") == 1, nodes
    assert nodes.count("Exchange") == 1, nodes

    plan = _formatted_plan(qs["pivot_event_counts"](spark, SF_SMALL))
    nodes = _nodes(plan)
    assert nodes.count("Scan") == 1, nodes
    assert nodes.count("Exchange") <= 2, nodes


def test_top_unshipped_orders_pushes_all_three_date_filters(spark):
    """The TPC-H Q3 shape: segment, order-date, and ship-date
    predicates must each reach their own scan's PushedFilters, and the
    top-10 must stay TakeOrderedAndProject — never a global sort of
    the joined fact."""
    qs = _entry_queries()
    plan = _formatted_plan(qs["top_unshipped_orders"](spark, SF_SMALL))
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "LessThan(o_orderdate," in plan
    assert "GreaterThan(l_shipdate," in plan
    nodes = _nodes(plan)
    assert "TakeOrderedAndProject" in nodes, nodes
    assert "BroadcastNestedLoopJoin" not in nodes
    assert "CartesianProduct" not in nodes


def test_funnel_and_resample_never_nested_loop(spark):
    """funnel_user_stages builds its stage frames from per-stage
    FILTERED scans (each event_type equality pushed down) joined on
    user_id — never a nested loop. resample_daily_ffill generates each
    user's calendar with explode(sequence(...)) from that user's own
    bounds — the naive calendar-times-users cartesian must never
    appear, and the forward-fill windows add at most two exchanges."""
    qs = _entry_queries()

    plan = _formatted_plan(qs["funnel_user_stages"](spark, SF_SMALL))
    assert "EqualTo(event_type,click)" in plan
    assert "EqualTo(event_type,purchase)" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    plan = _formatted_plan(qs["resample_daily_ffill"](spark, SF_SMALL))
    nodes = _nodes(plan)
    assert "Generate" in nodes, nodes  # explode(sequence(...)) calendar
    assert "BroadcastNestedLoopJoin" not in nodes
    assert "CartesianProduct" not in nodes
    assert nodes.count("Exchange") <= 2, nodes


# --- r10 cohort pins (the drain window two rounds out) -----------------------


def test_r10_map_only_quality_gates_plan_zero_exchanges(spark):
    """intra_doc_line_dedup and gopher_quality_gate are per-document
    column programs — one scan, no Exchange. These run in front of
    every downstream curation stage, so an accidental shuffle here
    taxes the whole pipeline."""
    qs = _entry_queries()
    for name in ["intra_doc_line_dedup", "gopher_quality_gate"]:
        plan = _formatted_plan(qs[name](spark, SF_SMALL))
        nodes = _nodes(plan)
        assert nodes.count("Exchange") == 0, (name, nodes)
        assert nodes.count("Scan") == 1, (name, nodes)


def test_all_multimodal_decodes_are_arrow_map_only(spark):
    """Every codec decode query (JPEG/PNG/WAV/video) plans as scan →
    MapInPandas with zero Exchange and never row-at-a-time
    BatchEvalPython — binary payloads make the Arrow-vs-pickle gap
    widest exactly here."""
    qs = _entry_queries()
    for name in ["multimodal_jpeg_decode", "multimodal_png_decode",
                 "multimodal_wav_decode", "multimodal_video_decode"]:
        plan = _formatted_plan(qs[name](spark, SF_SMALL))
        nodes = _nodes(plan)
        assert "MapInPandas" in nodes, (name, nodes)
        assert "BatchEvalPython" not in nodes, (name, nodes)
        assert nodes.count("Exchange") == 0, (name, nodes)


def test_r10_single_shuffle_aggs_windows_and_grouping_sets(spark):
    """One Exchange each: json_props_extract (parse + grouped agg),
    window_distribution_functions and moving_sum_time_range (one
    window partitioning), window_dedup_latest_maxby (max_by grouped
    arm), embedding_gram_matrix (outer-product partial aggs),
    manifest_pruned_scan (pruned scan + agg); GROUPING SETS and
    UNPIVOT stay one scan + Expand + one shuffle.
    doc_fingerprint_winnowing dropped to ZERO exchanges in the r17
    optimization round (the winnow selection now runs inside each
    document's row — map-only scan + Generate) and is pinned there."""
    qs = _entry_queries()
    for name in ["json_props_extract", "window_distribution_functions",
                 "moving_sum_time_range", "window_dedup_latest_maxby",
                 "embedding_gram_matrix",
                 "manifest_pruned_scan"]:
        plan = _formatted_plan(qs[name](spark, SF_SMALL))
        nodes = _nodes(plan)
        assert nodes.count("Exchange") == 1, (name, nodes)
    plan = _formatted_plan(qs["doc_fingerprint_winnowing"](spark, SF_SMALL))
    nodes = _nodes(plan)
    assert nodes.count("Exchange") == 0, ("doc_fingerprint_winnowing", nodes)
    for name in ["grouping_sets_flag_status", "unpivot_lineitem_measures"]:
        plan = _formatted_plan(qs[name](spark, SF_SMALL))
        nodes = _nodes(plan)
        assert "Expand" in nodes, (name, nodes)
        assert nodes.count("Scan") == 1, (name, nodes)
        assert nodes.count("Exchange") == 1, (name, nodes)


def test_rare_token_score_bnlj_is_only_the_scalar_attach(spark):
    """rare_token_quality_score joins a 1-ROW global aggregate
    (n_total, n_vocab) onto the count frame via
    join(F.broadcast(totals)) — a condition-less broadcast nested loop
    that is O(n) against exactly one build row (extensions/text.py
    rare_token_scores). The pin: exactly ONE BroadcastNestedLoopJoin
    (the scalar attach), no CartesianProduct, and the token join stays
    an equi join. bpe_pair_counts' top-k cut must stay
    TakeOrderedAndProject."""
    qs = _entry_queries()
    plan = _formatted_plan(qs["rare_token_quality_score"](spark, SF_SMALL))
    nodes = _nodes(plan)
    assert nodes.count("BroadcastNestedLoopJoin") == 1, nodes
    assert "CartesianProduct" not in nodes
    assert nodes.count("BroadcastHashJoin") \
        + nodes.count("SortMergeJoin") \
        + nodes.count("ShuffledHashJoin") >= 1, nodes

    plan = _formatted_plan(qs["bpe_pair_counts"](spark, SF_SMALL))
    nodes = _nodes(plan)
    assert "TakeOrderedAndProject" in nodes, nodes
    assert "CartesianProduct" not in nodes


# --- r11 cohort pins ----------------------------------------------------------


def test_r11_single_shuffle_corpus_stats(spark):
    """tokenizer_fertility_by_lang (grouped fertility agg),
    ngram_novelty_per_source and embedding_degeneracy_stats (explode +
    two-level agg), minhash_estimator_calibration (pair join feeding
    one agg): bounded shuffle counts — the corpora-wide statistics
    this family computes must stay near-map-side."""
    qs = _entry_queries()
    plan = _formatted_plan(qs["tokenizer_fertility_by_lang"](spark, SF_SMALL))
    assert _nodes(plan).count("Exchange") == 1, _nodes(plan)
    for name, cap in [("ngram_novelty_per_source", 2),
                      ("embedding_degeneracy_stats", 1),
                      ("minhash_estimator_calibration", 1)]:
        plan = _formatted_plan(qs[name](spark, SF_SMALL))
        nodes = _nodes(plan)
        assert nodes.count("Exchange") <= cap, (name, nodes)
        assert "CartesianProduct" not in nodes, name
        assert "BroadcastNestedLoopJoin" not in nodes, name


def test_r11_scalar_attach_queries_have_exactly_one_bnlj(spark):
    """mad_length_outliers (global median/MAD), curriculum_length_buckets
    (corpus row count), bigram_surprise_score (total pair count) and
    retrieval_mrr_by_label each attach ONE global 1-row aggregate via
    crossJoin(F.broadcast(...)) — the engine-wide scalar-attach
    convention (O(n) against exactly one build row). The pin: exactly
    one BroadcastNestedLoopJoin per plan, never a CartesianProduct,
    and at least one real equi join carrying the data path."""
    qs = _entry_queries()
    for name in ["mad_length_outliers", "curriculum_length_buckets",
                 "bigram_surprise_score", "retrieval_mrr_by_label"]:
        plan = _formatted_plan(qs[name](spark, SF_SMALL))
        nodes = _nodes(plan)
        assert nodes.count("BroadcastNestedLoopJoin") == 1, (name, nodes)
        assert "CartesianProduct" not in nodes, name
        assert nodes.count("BroadcastHashJoin") \
            + nodes.count("SortMergeJoin") \
            + nodes.count("ShuffledHashJoin") >= 1, (name, nodes)


def test_incremental_view_join_is_shuffle_free_equi(spark):
    """incremental_join_view_orders — the join-view maintenance delta
    (new orders joined to dims) — plans as pure broadcast equi joins
    with ZERO exchanges: the incremental batch must never pay a
    repartition of the base relation it is maintaining."""
    qs = _entry_queries()
    plan = _formatted_plan(qs["incremental_join_view_orders"](spark, SF_SMALL))
    nodes = _nodes(plan)
    assert nodes.count("Exchange") == 0, nodes
    assert "BroadcastNestedLoopJoin" not in nodes
    assert "CartesianProduct" not in nodes
    assert nodes.count("BroadcastHashJoin") >= 1, nodes


def test_blocklist_and_topic_tags_broadcast_the_small_side(spark):
    """domain_blocklist_filter and keyword_topic_tags join a fact-side
    corpus against a small curated list — the list side must broadcast
    (BroadcastHashJoin) and the pattern must never degrade to a
    sort-merge that shuffles the corpus by the list key."""
    qs = _entry_queries()
    for name in ["domain_blocklist_filter", "keyword_topic_tags"]:
        plan = _formatted_plan(qs[name](spark, SF_SMALL))
        nodes = _nodes(plan)
        assert nodes.count("BroadcastHashJoin") >= 1, (name, nodes)
        assert "SortMergeJoin" not in nodes, (name, nodes)
        assert "CartesianProduct" not in nodes, name
