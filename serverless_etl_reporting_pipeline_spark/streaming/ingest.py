"""Checkpointed incremental ingest — the principled replacement for the
reference's `last_run.txt` watermark loop (SURVEY.md §2.9, §7.1 step 7).

The reference cron-runs an extract every 3h and tracks progress in a
text file with a +1s bump (losing boundary rows, `extract.py:50-57`).
Structured Streaming's file source + `Trigger.AvailableNow` is the same
operational pattern — run on a schedule, process everything new, exit —
but progress is a transactional checkpoint (exactly-once into a
fault-tolerant sink), late/boundary data handled by offsets, not by
event-time string comparison.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T


def available_now_ingest(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    dest_dir: str,
    checkpoint_dir: str,
    transform=None,
) -> int:
    """Ingest all unprocessed files from `source_dir` into `dest_dir`
    parquet, exactly once, then return (rows are tracked by the
    checkpoint, not by event time). Returns number of batches run.
    """
    stream = spark.readStream.schema(schema).parquet(source_dir)
    if transform is not None:
        stream = transform(stream)
    q = (
        stream.writeStream.format("parquet")
        .option("path", dest_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return len(q.recentProgress)
