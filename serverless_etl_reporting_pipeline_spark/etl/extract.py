"""Incremental watermark extract (reference `pipeline/ETL/extract.py:36-81`, S2).

The reference keeps a single text file `pipeline-state/last_run.txt` on
S3 with the max processed event time, bumps it by one second, and
string-interpolates `WHERE ft.at > '<ts>'` into the extract SQL. Two
bugs fixed here (SURVEY.md §2.9, §7.3):

- the 1-second bump silently skips rows that share the watermark second
  → we use a strictly-greater predicate on the exact stored timestamp
  (microsecond precision), no bump. Residual tie semantics, stated
  explicitly (r12): a row inserted AFTER a run completes with ``ts``
  exactly equal to that run's committed maximum is skipped by the next
  run — strict separation is what makes consecutive outputs a valid
  strictly-monotone CDC feed (the contract `streaming/scd2.py` and e08
  enforce downstream, under which a tie at the committed tip is always
  a redelivery). Sources that can emit same-microsecond late rows need
  a source-side ordering key beyond the timestamp;
- string interpolation into SQL → the predicate is a Column expression
  here; the JDBC path (sources/jdbc.py) still renders SQL text — the
  `query` option has no bind channel — but constrains both injected
  pieces (strftime timestamp, identifier-validated ts_col).

The principled streaming replacement (checkpointed Structured Streaming
with `Trigger.AvailableNow`) lives in `streaming/ingest.py`; this module
is the batch-contract equivalent, state kept in a small file exactly
like the reference so orchestration stays external.
"""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from serverless_etl_reporting_pipeline_spark.functions.timelit import ntz_lit

_FMT = "%Y-%m-%d %H:%M:%S.%f"


class FileWatermarkStore:
    """Tiny persisted high-watermark, one timestamp per line-less file.

    Reference: `extract.py:36-81` (S3 get/put of last_run.txt).
    """

    def __init__(self, path: str):
        self.path = path

    def read(self) -> datetime | None:
        if not os.path.exists(self.path):
            return None
        text = open(self.path, encoding="utf-8").read().strip()
        return datetime.strptime(text, _FMT) if text else None

    def write(self, ts: datetime) -> None:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(ts.strftime(_FMT))
        os.replace(tmp, self.path)  # atomic, no torn state on crash


def incremental_extract(df: DataFrame, ts_col: str, store: FileWatermarkStore) -> tuple[DataFrame, "_Commit"]:
    """Filter `df` to rows newer than the stored watermark.

    Returns (new_rows, commit). Call ``commit()`` only after the batch
    has been durably written — the watermark then advances to the max
    event time of the batch, so a crash between write and commit means
    reprocessing (at-least-once), never loss. A caller that observed
    that maximum on the write passes it, ``commit(max_ts)``, and saves
    the aggregate job ``commit()`` runs to find it.
    """
    wm = store.read()
    # ntz_lit: a naive-datetime literal would be read through the
    # session timezone and shift the watermark boundary by the whole
    # zone offset under a non-UTC session (functions/timelit.py, r11)
    new_rows = df.filter(F.col(ts_col) > ntz_lit(wm)) if wm is not None else df
    return new_rows, _Commit(new_rows, ts_col, store, wm)


class _Commit:
    def __init__(self, new_rows: DataFrame, ts_col: str, store: FileWatermarkStore, prev: datetime | None):
        self._df = new_rows
        self._ts_col = ts_col
        self._store = store
        self._prev = prev

    def __call__(self, new_wm: datetime | None = None) -> datetime | None:
        """Store ``new_wm``, the batch's max event time when the caller
        already observed it; without it, one aggregate job computes it."""
        if new_wm is None:
            new_wm = self._df.agg(F.max(self._ts_col).alias("wm")).collect()[0]["wm"]
        if new_wm is None:  # empty batch: watermark unchanged
            return self._prev
        assert self._prev is None or new_wm >= self._prev, "watermark must be monotonic"
        self._store.write(new_wm)
        return new_wm
