"""Parquet table readers for the fixture star schema.

Reads go straight through ``spark.read.parquet`` so Catalyst keeps
predicate pushdown / column pruning (`PushedFilters` / `ReadSchema` in the
physical plan). One ingest-normalization exists: ``events.parquet`` is
written with nanosecond timestamps, which Spark's Parquet reader rejects
(`PARQUET_TYPE_ILLEGAL`); we rewrite it once per scale factor to
microsecond precision via pyarrow into a local cache dir. DuckDB (the
oracle) also truncates ns→µs, so values stay identical.
"""

from __future__ import annotations

import os
import tempfile
import weakref
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_CACHE_ROOT = os.path.join(tempfile.gettempdir(), "spark_graft_cache")


def _normalized_events_path(sf_dir: str) -> str:
    """Rewrite events.parquet ns→µs timestamps once; return cached path."""
    src = os.path.join(sf_dir, "events.parquet")
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    dst = os.path.join(_CACHE_ROOT, f"{tag}-events-us.parquet")
    if not os.path.exists(dst) or os.path.getmtime(dst) < os.path.getmtime(src):
        import pyarrow as pa
        import pyarrow.parquet as pq

        import pyarrow.compute as pc

        table = pq.read_table(src)
        cols = []
        for f in table.schema:
            col = table.column(f.name)
            if pa.types.is_timestamp(f.type):
                # truncate ns→µs exactly like DuckDB does on read, so the
                # oracle sees identical values
                opts = pc.CastOptions(target_type=pa.timestamp("us"), allow_time_truncate=True)
                col = pc.cast(col, options=opts)
            cols.append(col)
        table = pa.table(dict(zip(table.schema.names, cols)))
        os.makedirs(_CACHE_ROOT, exist_ok=True)
        tmp = dst + ".tmp"
        pq.write_table(table, tmp)
        os.replace(tmp, dst)
    return dst


def table_path(sf_dir: str, name: str) -> str:
    if name == "events":
        return _normalized_events_path(sf_dir)
    return os.path.join(sf_dir, f"{name}.parquet")


# Inferred table schemas per session, keyed by (path, size, mtime_ns):
# a rewritten file gets a new key. The session is part of the key because
# inference depends on its confs, and the driver contract reads through
# its own session, built without the engine's.
_SCHEMAS: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, int, int], StructType]]" = (
    weakref.WeakKeyDictionary()
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Parquet schema inference costs a Spark job; it runs
    on the first read of each file version in a session, and every later
    read passes the cached schema to ``spark.read.schema`` and launches
    0 jobs. Registry queries call this once per table they scan."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = table_path(sf_dir, name)
    try:
        st = os.stat(path)
    except OSError:  # not a local file: no version to key on
        return spark.read.parquet(path)
    key = (path, st.st_size, st.st_mtime_ns)
    schemas = _SCHEMAS.setdefault(spark, {})
    if key in schemas:
        return spark.read.schema(schemas[key]).parquet(path)
    df = spark.read.parquet(path)
    schemas[key] = df.schema
    return df


# Frames spread_scan already returned; a repeated call on the same output
# object is an identity no-op. Frames DERIVED from a spread frame are
# re-probed (inputFiles() is cheap, and a derived frame usually has no
# input files so it is returned untouched anyway).
_SPREAD_FRAMES: "weakref.WeakSet[DataFrame]" = weakref.WeakSet()


def spread_scan(df: DataFrame, key: str) -> DataFrame:
    """Spread a small scan across the cluster before a high-fan-out map
    stage (shingle/char/token explode): input-split sizing sees
    PRE-explode bytes, so a corpus small enough to sit in one split runs
    the whole ~1000x fan-out PLUS its partial aggregate on a single core
    — the r10 c06 finding (3.5 s -> 1.3 s at sf0.1, and the source of
    its noise-like conflicting readings: one task's wall tracks one
    core's state). Hash-partitioning by ``key`` also keeps downstream
    grouping led by the same key co-located, so the POST-explode rows
    never shuffle. At real scale the input already has thousands of
    splits and this is a no-op — the operators/minhash.py _shingle_sets
    discipline, shared.

    The split probe is ``len(df.inputFiles())`` (r10 verdict ask #4 /
    ADVICE): the old ``df.rdd.getNumPartitions()`` forced a Python->JVM
    RDD conversion — one avoidable analysis job PER QUERY BUILD at ~10
    call sites per registry run. ``inputFiles()`` reads the already-
    materialized file index. Two deliberate edges: (a) a file count
    can UNDERcount splits for one huge multi-split file — the added
    exchange there is keyed identically to the downstream grouping, so
    it is cheap insurance at a fan-out site, never wrong; (b) a derived
    frame (no input files) is returned untouched — the discipline is
    raw-scan sites only (derived/state frames were measured WORSE with
    the spread, BASELINE.md round-10). Frames this helper already
    spread are tracked in a WeakSet so a repeated call is an identity
    no-op without any plan probe. Needs defaultParallelism > 1 to do
    anything (tests run local[32]).

    The spread width is SIZE-AWARE, not a raw core count (r13 verdict
    ask #3, guide §2 partition sizing): a KB-scale scan fanned to 32
    tasks pays more in task scheduling than the parallelism buys — the
    r13 8-vs-32-core scaling block showed the regex/fan-out c/t rows
    running up to 3.7x FASTER on 8 cores for exactly this reason. The
    width is ceil(input_bytes / SPARK_GRAFT_SPREAD_TARGET_BYTES),
    capped at defaultParallelism, floored at 1 — so tiny fixtures get
    a handful of tasks (or no exchange at all when one split already
    covers the bytes), sf0.1 still spreads near the core count, and at
    real scale the files>=cores short-circuit makes the whole probe a
    no-op. The default target is pre-explode bytes: these sites feed
    ~100-1000x token/shingle/char fan-outs, so ~64 KB of input per
    task is tens of MB of post-explode work — the guide's advisory
    partition range, measured on the r14 A/B (see OPTIMIZATION_r14.md).
    When file sizes are unreadable (non-local scheme), fall back to
    the core-count width — the conservative pre-r14 behavior."""
    from pyspark.sql import functions as F

    if df in _SPREAD_FRAMES:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if files and len(files) < target:
        total = _local_file_bytes(files)
        if total is not None:
            want = max(1, -(-total // _spread_target_bytes()))
            target = min(target, want)
        if target <= len(files):
            _SPREAD_FRAMES.add(df)
            return df
        out = df.repartition(target, F.col(key))
        _SPREAD_FRAMES.add(out)
        return out
    return df


def _spread_target_bytes() -> int:
    """Pre-explode bytes of input per spread task (env-overridable like
    the fold gate — the scale-parameterised-knob rule)."""
    return int(os.environ.get("SPARK_GRAFT_SPREAD_TARGET_BYTES", str(64 * 1024)))


def _local_file_bytes(files: list[str]) -> int | None:
    """Total on-disk bytes of ``file:`` URIs; None when any file lives
    on a scheme we cannot stat locally (cluster deployments — where the
    files>=cores short-circuit normally decides first anyway)."""
    total = 0
    for uri in files:
        if uri.startswith("file:"):
            path = unquote(uri[5:])
            while path.startswith("//"):
                path = path[1:]
        elif uri.startswith("/"):
            path = uri
        else:
            return None
        try:
            total += os.path.getsize(path)
        except OSError:
            return None
    return total


_SCRATCH_HYGIENE_DONE: set[tuple[str, str]] = set()
_SCRATCH_MAX_AGE_S = 24 * 3600


def scoped_scratch_dir(root: str, app_id: str) -> str:
    """Application-scoped scratch dir ``root/app_id`` with lifecycle
    hygiene (r13 verdict ask #7 / ADVICE): the app-id keying is the
    no-cross-run-precomputation guarantee, but nothing ever removed the
    dirs, so every bench/oracle process leaked a corpus-scale copy
    under /tmp. Two measures, both best-effort:

    - ``atexit``: this application's dir is removed at interpreter
      exit (the common clean-shutdown path — bench, oracle, tests);
    - stale reaping: sibling app dirs whose mtime is older than 24 h
      are deleted on first use. Age-gated rather than delete-all-
      siblings because concurrently running applications (a bench and
      an oracle check side by side) share the root while alive; only a
      crashed process leaks a dir past its lifetime, and those are
      exactly the old ones.
    - heartbeat: every call touches this app's own dir (when it
      exists). Nested parquet writes never refresh the top dir's
      mtime, so without it a live app older than 24 h looks stale to a
      newer process.

    Registered once per (root, app_id); repeated calls only touch the
    heartbeat."""
    import atexit
    import shutil
    import time

    own = os.path.join(root, app_id)
    try:
        os.utime(own)
    except OSError:
        pass  # not created yet
    key = (root, app_id)
    if key in _SCRATCH_HYGIENE_DONE:
        return own
    _SCRATCH_HYGIENE_DONE.add(key)
    atexit.register(shutil.rmtree, own, ignore_errors=True)
    try:
        cutoff = time.time() - _SCRATCH_MAX_AGE_S
        for name in os.listdir(root):
            sib = os.path.join(root, name)
            if name != app_id and os.path.isdir(sib) and os.path.getmtime(sib) < cutoff:
                shutil.rmtree(sib, ignore_errors=True)
    except OSError:
        pass
    return own


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    """Load tables and register them as temp views (for spark.sql use)."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
