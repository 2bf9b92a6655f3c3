"""Per-query time decomposition for the optimization rounds.

For each named query, measures on a warm session:
  build_s  — wall-clock of calling the plan function (driver-side work:
             plan construction, any build-time Spark jobs like stream
             drains, collects, index writes),
  exec_s   — wall-clock of the noop-sink write of the returned frame,
  jobs     — Spark jobs submitted during build and exec (status tracker),
  compiles — Janino compilations of generated classes during build and
             exec (Spark's CodegenMetrics compilation counter), read on
             the last rep: a warm plan whose classes are still in the
             generated-class cache compiles nothing,
so "where does the time go" is measurable instead of guessed: a query
whose cost is build-side jobs needs a different fix (fewer passes /
cheaper maintenance) than one whose cost is the final plan's execution
(shuffles / join strategy / Python boundary).

Each rep is one pass over every named query in order, so the last rep
is a warm pass of the whole set, as in a repeated job.

Usage: python tools/profile_queries.py [query ...]   (default: top-cost set)
Env: SPARK_GRAFT_SF_DIR (default sf0.1), PROFILE_REPS (default 2).
Writes JSON to stdout, one line per query, then a sorted summary and
the warm pass's compile total.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT = [
    "streaming_band_index_dedup",
    "etl_csv_pipeline_full",
    "etl_json_pipeline_full",
    "dedup_cluster_canonical",
    "partial_stats_merge",
    "leakage_safe_split_counts",
    "embedding_ivf_topk",
    "cross_source_overlap",
    "compaction_roundtrip",
    "streaming_window_agg",
    "hard_negative_mining_ann",
    "mad_length_outliers",
    "boilerplate_line_scrub",
    "dup_span_stats",
    "bpe_encode_token_counts",
    "winnowing_contamination",
    "bpe_train_merges",
    "curation_pipeline_full",
    "kmv_distinct_sketch_trigrams",
    "doc_fingerprint_winnowing",
    "ann_recall_calibration",
    "pagerank_doc_links",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:] or DEFAULT
    reps = int(os.environ.get("PROFILE_REPS", "2"))

    from pyspark_etl_project_spark.plans import all_queries
    from pyspark_etl_project_spark.session import get_spark

    spark = get_spark("profile")
    qs = all_queries()
    tracker = spark.sparkContext.statusTracker()

    # Warm the JVM once.
    qs["scan_filter_project"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = codegen.METRIC_COMPILATION_TIME().getCount

    def last_job() -> int:
        ids = tracker.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    for name in [n for n in names if n not in qs]:
        print(json.dumps({"name": name, "error": "not registered"}))
    names = [n for n in names if n in qs]
    best: dict[str, dict] = {}
    for _ in range(reps):
        for name in names:
            n0, c0, t0 = last_job(), compiles(), time.time()
            df = qs[name](spark, sf_dir)
            nmid, cmid, t1 = last_job(), compiles(), time.time()
            df.write.format("noop").mode("overwrite").save()
            nend, cend, t2 = last_job(), compiles(), time.time()
            rec = {
                "name": name,
                "build_s": round(t1 - t0, 3),
                "exec_s": round(t2 - t1, 3),
                "total_s": round(t2 - t0, 3),
                "build_jobs": nmid - n0,
                "exec_jobs": nend - nmid,
            }
            prev = best.get(name)
            if prev is None or rec["total_s"] < prev["total_s"]:
                best[name] = rec
            # The last rep overwrites these: warm-pass compiles.
            best[name]["build_compiles"] = cmid - c0
            best[name]["exec_compiles"] = cend - cmid
    rows = [best[n] for n in names]
    for r in rows:
        print(json.dumps(r))

    print("\n== sorted by total (best of %d reps; compiles of the last) ==" % reps)
    for r in sorted(rows, key=lambda r: -r["total_s"]):
        print(f"{r['total_s']:8.3f}  build={r['build_s']:7.3f} ({r['build_jobs']:3d} jobs,"
              f" {r['build_compiles']:3d} compiles)"
              f"  exec={r['exec_s']:7.3f} ({r['exec_jobs']:3d} jobs,"
              f" {r['exec_compiles']:3d} compiles)  {r['name']}")
    print("warm pass compiles: %d" % sum(
        r["build_compiles"] + r["exec_compiles"] for r in rows))
    spark.stop()


if __name__ == "__main__":
    main()
