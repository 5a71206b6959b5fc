"""SparkSession factory.

Centralizes the engine configuration so every entry point (tests, bench,
driver contract, ETL jobs) runs with the same semantics:

- ``spark.sql.session.timeZone=UTC`` — fixture timestamps are tz-naive;
  pinning UTC keeps ``hour()`` / ``to_date()`` oracle-stable vs DuckDB
  (SURVEY.md §7.3).
- AQE on (coalesce partitions + skew-join) — at 100 TB the runtime re-plan
  is what keeps shuffle partition sizing and skewed join keys from
  becoming manual tuning problems.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster this would be ~2-3x total cores (AQE coalesces down).
- Arrow enabled — all Python-side exchange (Pandas UDFs, createDataFrame)
  goes through Arrow batches, never per-row pickling.
- Generated-class cache sized to the engine's working set
  (``CODEGEN_CACHE_ENTRIES``): one pass of the query registry compiles
  ~1540 distinct classes, far more than Spark's default 100-entry cache
  holds, so every repeated plan shape was re-compiled by Janino and
  re-JITted.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

APP_NAME = "serverless-etl-reporting-pipeline-spark"

# spark.sql.codegen.cache.maxEntries (Spark default 100). The cache is
# keyed on the generated source, so a repeated plan shape skips Janino and
# reuses already-JITted code only while its classes are still cached.
# The 130-query registry at sf0.001, run twice in one session, 4 cores
# (codegen compiles pass 1 / pass 2):
#   100: 2161/2047  200: 1838/1731  400: 1704/1577  800: 1598/1392
#   1000: 1560/1340  2000: 1537/40  4000: 1535/34
# One pass holds ~1540 distinct classes; the ~35-40 left are most likely
# per-build literals inlined into the source, which no size can hit.
# perfbench (compiles per timed pass; cpu_s medians of interleaved pairs):
#   ingest    294 -> 27,       cpu_s 47.9 -> 36.3 s (10 pairs)
#   curation  147-154 -> 0-4,  cpu_s 40.2 -> 32.5 s (8 pairs)
CODEGEN_CACHE_ENTRIES = 2000


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    In local mode there is a single JVM, so ``spark.driver.memory`` is the
    only memory knob; it must be set before the JVM starts (first call
    wins for an existing session). The static SQL conf
    ``spark.sql.codegen.cache.maxEntries`` is fixed the same way: the
    first session in the JVM sets it, and ``extra_conf`` on a later call
    cannot change it.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
