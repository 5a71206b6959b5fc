"""Self-tests of the benchmark's own parts.

    python3 -m pytest perfbench/tests -q

They need no repository data: the Spark test starts its own local[2]
session, and the generator tests write under pytest's tmp_path.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import datagen  # noqa: E402
import probe  # noqa: E402
import worker  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_tree_cpu_counts_jvm_and_python_workers(spark):
    """One busy mapInPandas op: each of its two Python tasks burns 1 s of
    its own CPU, which must show under the JVM's Python workers, and the
    JVM's own threads must show too."""

    def busy(batches):
        import time

        for b in batches:
            end = time.process_time() + 1.0
            while time.process_time() < end:
                pass
            yield b

    df = spark.range(0, 64, numPartitions=2)
    before = probe.tree_cpu(os.getpid())
    assert df.mapInPandas(busy, "id long").count() == 64
    after = probe.tree_cpu(os.getpid())
    delta = {k: after[k] - before[k] for k in after}
    assert delta["python_workers"] >= 1.8, delta
    assert delta["jvm"] > 0.0, delta
    assert abs(delta["total"] - delta["driver"] - delta["jvm"] - delta["python_workers"]) < 1e-6


def test_jvm_probe_counts_jobs_and_plan(spark):
    jvm = probe.JvmProbe(spark)
    j0 = jvm.jobs_started()
    df = spark.range(0, 1000, numPartitions=4).groupBy((F.col("id") % 7).alias("k")).count()
    rows = df.collect()
    stats = jvm.job_stats(j0, jvm.jobs_started())
    assert len(rows) == 7
    assert stats["jobs"] >= 1 and stats["tasks"] >= 1
    assert jvm.plan_metrics(df)["exchanges"] >= 1
    assert jvm.heap_after_gc_mb() > 0


def test_generators_are_pure_functions_of_the_seed(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    assert datagen.star_schema(str(a), 0.001, 5) == datagen.star_schema(str(b), 0.001, 5)
    for name in os.listdir(a):
        assert (a / name).read_bytes() == (b / name).read_bytes(), name
    x, y = datagen.raw_increment(5, 2, 1000, 0), datagen.raw_increment(5, 2, 1000, 0)
    assert x == y and x != datagen.raw_increment(6, 2, 1000, 0)


def test_increment_drops_match_the_cleaner(spark):
    """The injected counts are what the engine's cleaner must drop."""
    from serverless_etl_reporting_pipeline_spark.etl import RAW_TRANSACTIONS_SCHEMA, clean_transactions

    inc = datagen.raw_increment(9, 1, 2000, 0)
    raw = spark.createDataFrame(inc.rows, RAW_TRANSACTIONS_SCHEMA)
    kept = clean_transactions(raw).agg(F.count("*"), F.sum("total")).collect()[0]
    assert kept[0] == inc.expect_written
    assert round(kept[1] * 100) == inc.expect_cents
    assert len(inc.rows) == inc.expect_written + sum(inc.injected.values()) - inc.injected["watermark_tie"]


def test_tail_percentile_keeps_ten_samples_beyond():
    assert worker.tail_percentile(19) == 50
    assert worker.tail_percentile(20) == 50
    assert worker.tail_percentile(40) == 75
    assert worker.tail_percentile(100) == 90
    assert worker.percentile([1.0, 2.0, 3.0], 50) == 2.0
