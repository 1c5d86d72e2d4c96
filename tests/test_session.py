"""Session-builder conf pins (settings with measured rationale)."""

from __future__ import annotations


def test_codegen_cache_sized_to_plan_working_set(spark):
    """The whole-stage-codegen class cache must hold the app's plan
    working set (~400 generated classes for the bench suite; default 100
    thrashes — ~400 Janino recompilations per bench pass, measured via
    CodegenMetrics in OPTIMIZATION_r06.md #9). Beyond the conf value,
    re-running a working set larger than the default cache (64 distinct
    plans, two generated classes each) must compile nothing."""
    from pyspark.sql import functions as F

    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 4096

    metric = spark.sparkContext._jvm.org.apache.spark.metrics.source \
        .CodegenMetrics.METRIC_COMPILATION_TIME()

    def run_plans():
        for i in range(64):
            spark.range(10, numPartitions=1) \
                .select((F.col("id") * (i + 7) + i).alias("v")).collect()

    start = metric.getCount()
    run_plans()
    first = metric.getCount()
    assert first - start >= 120  # more than the default cache holds
    run_plans()
    assert metric.getCount() == first
