"""Session configuration that outlives one query: the generated-class
cache must hold the engine's working set of plan shapes."""

from __future__ import annotations

from serverless_etl_reporting_pipeline_spark.session import CODEGEN_CACHE_ENTRIES


def test_codegen_cache_keeps_repeated_plans(spark):
    """More distinct plans than Spark's default 100-entry cache, then
    the first plan again: it must not be compiled a second time."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def plan(i):
        # the literal is inlined into the generated source, so each i
        # compiles new classes (two per collect here)
        return spark.range(4).selectExpr(f"id * {i + 1000003} AS x").collect()

    before = compiles.getCount()
    for i in range(60):
        plan(i)
    assert compiles.getCount() - before > 100
    seen = compiles.getCount()
    plan(0)
    assert compiles.getCount() == seen
