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


def test_python_workers_find_the_package(spark):
    """Python workers get the package root on their PYTHONPATH, merged
    into any value the caller set, so a kernel importing the engine
    does not depend on the driver's working directory."""
    import os

    from serverless_etl_reporting_pipeline_spark.session import PACKAGE_ROOT, worker_pythonpath

    conf = spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH")
    assert PACKAGE_ROOT in conf.split(os.pathsep)
    assert os.path.isfile(os.path.join(PACKAGE_ROOT, "serverless_etl_reporting_pipeline_spark", "__init__.py"))
    assert worker_pythonpath("") == PACKAGE_ROOT
    assert worker_pythonpath(os.pathsep.join(["/a", "/b"])) == os.pathsep.join(["/a", "/b", PACKAGE_ROOT])
    assert worker_pythonpath(PACKAGE_ROOT) == PACKAGE_ROOT
