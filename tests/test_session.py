"""The shared session's generated-class cache: a plan that repeats
reuses its compiled classes, even after more distinct plans than
Spark's default cache (100 entries) holds."""

from __future__ import annotations

from pyspark_etl_project_spark.session import CODEGEN_CACHE_ENTRIES


def test_codegen_cache_is_sized_by_get_spark(spark):
    assert (spark.conf.get("spark.sql.codegen.cache.maxEntries")
            == str(CODEGEN_CACHE_ENTRIES))


def test_repeated_plan_reuses_its_generated_classes(spark):
    """150 distinct tiny plans (each inlines its own literal, so each
    compiles new classes), then the first plan again: it must compile
    nothing. Under Spark's default 100-entry LRU the first plan's
    classes are evicted by then and it recompiles."""
    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME().getCount)

    def run(i: int) -> None:
        spark.range(3).selectExpr(f"id + {i} AS v").collect()

    for i in range(150):
        run(i)
    before = compiles()
    run(0)
    assert compiles() - before == 0
