"""End-to-end incremental ETL (reference `pipeline/ETL/pipeline.py`).

The reference runs four processes handing off CSV files
(extract → transform → partition → load). Here the whole thing is ONE
lazy DataFrame DAG — Catalyst fuses clean/casts into the scan, the only
shuffle is the dedup window, and the sink is a Hive-partitioned append.
Stage files disappear; the persisted boundaries are exactly: source
read, lake write, watermark state (SURVEY.md §3.1).
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from serverless_etl_reporting_pipeline_spark.etl.dims import extract_dims
from serverless_etl_reporting_pipeline_spark.etl.extract import FileWatermarkStore, incremental_extract
from serverless_etl_reporting_pipeline_spark.etl.transform import clean_transactions
from serverless_etl_reporting_pipeline_spark.sources.lake import write_dim, write_partitioned


@dataclass
class PipelineResult:
    rows_written: int
    watermark: datetime | None


def run_pipeline(
    raw: DataFrame,
    lake_path: str,
    state_path: str,
    write_dims: bool = False,
) -> PipelineResult:
    """Incremental extract → clean → partitioned append → (dims) → commit.

    ``raw`` is any DataFrame-shaped source (JDBC, parquet, …) with the
    RAW_TRANSACTIONS_SCHEMA columns. The fact write carries an
    ``Observation`` of the increment's row count and max event time, so
    neither needs a job of its own: 3 jobs for the fact write and 2 per
    dim, 7 per run with dims (13 with a separate probe, count and max).
    An empty increment (reference `pipeline.py:13-16`) writes no data
    file and leaves the dims and the watermark untouched.
    """
    store = FileWatermarkStore(state_path)
    cleaned = clean_transactions(raw)
    increment, commit = incremental_extract(cleaned, "at", store)

    increment = increment.cache()  # consumed by fact write (+ dims)
    try:
        seen = Observation()
        observed = increment.observe(seen, F.count(F.lit(1)).alias("n"), F.max("at").alias("wm"))
        write_partitioned(observed, lake_path, ts_col="at", mode="append")
        n = seen.get["n"]
        if n == 0:
            return PipelineResult(rows_written=0, watermark=store.read())
        if write_dims:
            dim_trucks, dim_payments = extract_dims(increment)
            write_dim(dim_trucks, f"{lake_path}_dim_trucks")
            write_dim(dim_payments, f"{lake_path}_dim_payment_methods")
        wm = commit(seen.get["wm"])  # advance watermark only after a durable write
    finally:
        increment.unpersist()
    return PipelineResult(rows_written=n, watermark=wm)
