"""ETL subsystem tests (SURVEY.md §5.2-§5.4): clean/cast/dedup unit
tests on literal rows with injected edge cases, end-to-end partitioned
write, and the incremental-extract property (split runs ≡ single run,
watermark monotonic)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from serverless_etl_reporting_pipeline_spark.sources.reader import load_table

from serverless_etl_reporting_pipeline_spark.etl import (
    RAW_TRANSACTIONS_SCHEMA,
    FileWatermarkStore,
    clean_transactions,
    duplicate_report,
    extract_dims,
    incremental_extract,
    run_pipeline,
)


def _raw(spark, rows):
    return spark.createDataFrame(rows, schema=RAW_TRANSACTIONS_SCHEMA)


def _row(i, at="2024-03-01 10:00:00", total=1250, truck=1, pm=1, name="Truck A", card=1, fsa=5, method="card"):
    return (i, at, total, truck, pm, name, f"{name} desc", card, fsa, method)


@pytest.fixture()
def raw_df(spark):
    rows = [
        _row(1),
        _row(2, at="2024-03-01 11:00:00", total=900, method="cash", pm=2),
        _row(3, total=None),  # NULL total → dropped (transform.py:15)
        _row(4, total=0),  # zero total → dropped (transform.py:16)
        _row(5, at="2024-03-01 10:00:00", total=1250),  # exact dup of 1 → dropped, keep id 1
        _row(6, at="2024-03-02 09:30:00", total=700, truck=2, name="Truck B", card=0, fsa=3),
        (7, "2024-03-02 09:31:00", 500, None, 1, "Truck C", "d", 1, 2, "card"),  # NULL critical col
        _row(8, at="2024-04-05 20:00:00", total=3000, truck=2, name="Truck B", card=0, fsa=3),
    ]
    return _raw(spark, rows)


def test_clean_semantics(raw_df):
    out = clean_transactions(raw_df)
    rows = {r["transaction_id"]: r for r in out.collect()}
    # survivors: 1 (dup winner), 2, 6, 8
    assert set(rows) == {1, 2, 6, 8}
    assert rows[1]["total"] == 12.50  # pence → pounds
    assert rows[6]["has_card_reader"] is False and rows[1]["has_card_reader"] is True
    assert str(out.schema["at"].dataType) == "TimestampType()"


def test_duplicate_report(raw_df):
    dupes = duplicate_report(clean_rawish(raw_df)).collect()
    assert len(dupes) == 1
    assert dupes[0]["copies"] == 2
    assert dupes[0]["kept_transaction_id"] == 1


def clean_rawish(raw_df):
    # duplicate_report runs on the casted frame (same key types as clean)
    from pyspark.sql import functions as F

    return raw_df.withColumn("at", F.col("at").cast("timestamp")).filter(F.col("total").isNotNull())


def test_extract_dims(raw_df):
    trucks, payments = extract_dims(clean_transactions(raw_df))
    t = {r["truck_id"]: r["truck_name"] for r in trucks.collect()}
    assert t == {1: "Truck A", 2: "Truck B"}
    p = {r["payment_method_id"]: r["payment_method"] for r in payments.collect()}
    assert p == {1: "card", 2: "cash"}


def test_pipeline_e2e_partition_layout(spark, raw_df, tmp_path):
    lake = str(tmp_path / "lake")
    state = str(tmp_path / "state" / "last_run.txt")
    result = run_pipeline(raw_df, lake, state, write_dims=True)
    assert result.rows_written == 4
    assert result.watermark is not None
    # Hive layout year=/month=/day= derived from `at` (load.py:45-56)
    assert os.path.isdir(os.path.join(lake, "year=2024", "month=3", "day=1"))
    assert os.path.isdir(os.path.join(lake, "year=2024", "month=4", "day=5"))
    back = spark.read.parquet(lake)
    assert back.count() == 4
    assert {"year", "month", "day"} <= set(back.columns)
    # partition pruning readable: day filter returns only that day
    assert back.filter("year=2024 AND month=3 AND day=1").count() == 2
    # dims written
    assert spark.read.parquet(lake + "_dim_trucks").count() == 2


def test_pipeline_incremental_idempotent(spark, raw_df, tmp_path):
    lake = str(tmp_path / "lake")
    state = str(tmp_path / "last_run.txt")
    first = run_pipeline(raw_df, lake, state)
    assert first.rows_written == 4
    # same input again → nothing new (watermark excludes everything)
    second = run_pipeline(raw_df, lake, state)
    assert second.rows_written == 0
    assert second.watermark == first.watermark
    assert spark.read.parquet(lake).count() == 4


def test_pipeline_split_equals_single_run(spark, raw_df, tmp_path):
    """Property from SURVEY.md §5.4: run(all) ≡ run(first half) + run(all)."""
    from pyspark.sql import functions as F

    lake_a = str(tmp_path / "lake_a")
    lake_b = str(tmp_path / "lake_b")
    run_pipeline(raw_df, lake_a, str(tmp_path / "wm_a.txt"))

    early = raw_df.filter(F.col("at") < "2024-03-02 00:00:00")
    r1 = run_pipeline(early, lake_b, str(tmp_path / "wm_b.txt"))
    r2 = run_pipeline(raw_df, lake_b, str(tmp_path / "wm_b.txt"))
    assert r1.rows_written + r2.rows_written == 4

    a = sorted(map(str, spark.read.parquet(lake_a).collect()))
    b = sorted(map(str, spark.read.parquet(lake_b).collect()))
    assert a == b


def test_watermark_boundary_not_skipped(spark, tmp_path):
    """Rows sharing the watermark second must not be lost (fixes the
    reference's +1s bump, extract.py:50-53)."""
    state = str(tmp_path / "wm.txt")
    lake = str(tmp_path / "lake")
    batch1 = _raw(spark, [_row(1, at="2024-03-01 10:00:00")])
    run_pipeline(batch1, lake, state)
    # second batch: new row in the SAME second (later is impossible to
    # distinguish at 1s granularity — reference would drop it)
    batch2 = _raw(
        spark,
        [_row(1, at="2024-03-01 10:00:00"), _row(2, at="2024-03-01 10:00:00.500000", total=800)],
    )
    r = run_pipeline(batch2, lake, state)
    assert r.rows_written == 1
    assert spark.read.parquet(lake).count() == 2


def test_watermark_store_roundtrip(tmp_path):
    from datetime import datetime

    store = FileWatermarkStore(str(tmp_path / "wm.txt"))
    assert store.read() is None
    ts = datetime(2024, 3, 1, 10, 0, 0, 123456)
    store.write(ts)
    assert store.read() == ts


def test_incremental_extract_empty_batch(spark, tmp_path):
    from datetime import datetime

    store = FileWatermarkStore(str(tmp_path / "wm.txt"))
    store.write(datetime(2030, 1, 1))
    df = clean_transactions(_raw(spark, [_row(1)]))
    inc, commit = incremental_extract(df, "at", store)
    assert inc.isEmpty()
    assert commit() == datetime(2030, 1, 1)  # unchanged on empty batch


def test_pipeline_job_budget(spark, raw_df, tmp_path, count_jobs):
    """The fact write observes the increment's count and max event time:
    no probe, count or max job of their own (13 jobs before)."""
    lake = str(tmp_path / "lake")
    jobs, result = count_jobs(lambda: run_pipeline(raw_df, lake, str(tmp_path / "wm.txt"), write_dims=True))
    assert result.rows_written == 4
    assert result.watermark == clean_transactions(raw_df).agg(F.max("at")).first()[0]
    assert jobs <= 7


def test_pipeline_empty_increment_touches_nothing(spark, raw_df, tmp_path):
    """A rerun on already-committed input writes no data file and leaves
    the dims and the watermark file as they were."""
    lake = str(tmp_path / "lake")
    state = str(tmp_path / "wm.txt")
    run_pipeline(raw_df, lake, state, write_dims=True)

    def snapshot():
        out = {}
        for root in (lake, lake + "_dim_trucks", lake + "_dim_payment_methods"):
            for d, _, files in os.walk(root):
                for f in files:
                    if f.endswith(".parquet"):
                        out[os.path.join(d, f)] = os.stat(os.path.join(d, f)).st_mtime_ns
        out[state] = (os.stat(state).st_mtime_ns, open(state).read())
        return out

    before = snapshot()
    again = run_pipeline(raw_df, lake, state, write_dims=True)
    assert again.rows_written == 0
    assert snapshot() == before


def test_compact_partitions_one_file_each(spark, sf_dir, tmp_path):
    """Fragmented appends collapse to one file per partition with
    identical data (small-files maintenance at 100 TB scale)."""
    import glob

    from serverless_etl_reporting_pipeline_spark.sources.lake import compact_partitions, write_partitioned

    orders = load_table(spark, sf_dir, "orders").filter("year(o_orderdate) = 1995").limit(500)
    lake = str(tmp_path / "frag_lake")
    # two fragmented appends: multiple files per partition dir
    write_partitioned(orders.repartition(4), lake, ts_col="o_orderdate", mode="append")
    write_partitioned(orders.repartition(4), lake, ts_col="o_orderdate", mode="append")
    before = spark.read.parquet(lake)
    n_before = before.count()
    checksum_before = before.agg(F.sum(F.crc32(F.concat_ws("|", "o_orderkey", "o_totalprice")))).collect()[0][0]

    days = glob.glob(os.path.join(lake, "year=*", "month=*", "day=*"))
    assert any(len(glob.glob(os.path.join(d, "*.parquet"))) > 1 for d in days), "setup not fragmented"

    assert compact_partitions(spark, lake) == n_before
    after = spark.read.parquet(lake)
    assert after.count() == n_before
    checksum_after = after.agg(F.sum(F.crc32(F.concat_ws("|", "o_orderkey", "o_totalprice")))).collect()[0][0]
    assert checksum_after == checksum_before
    for d in glob.glob(os.path.join(lake, "year=*", "month=*", "day=*")):
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, f"not compacted: {d}"


def test_zorder_write_shrinks_per_file_bounding_boxes(spark, sf_dir, tmp_path):
    """Z-order clustering must make each output file cover a compact
    rectangle in (user_id, value) space: the mean normalized bbox area
    over z-ordered files must be far below the random layout's (~1.0),
    so parquet min/max stats can prune 2-D predicates."""
    from serverless_etl_reporting_pipeline_spark.sources.lake import write_zordered

    ev = load_table(spark, sf_dir, "events").select("user_id", "value").dropna()
    zpath, rpath = str(tmp_path / "z"), str(tmp_path / "r")
    write_zordered(ev, zpath, ["user_id", "value"], n_files=8)
    ev.repartition(8).write.parquet(rpath)

    def mean_bbox_area(path):
        per_file = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name())
            .agg(
                F.min("user_id").alias("ulo"), F.max("user_id").alias("uhi"),
                F.min("value").alias("vlo"), F.max("value").alias("vhi"),
            )
            .collect()
        )
        lo_u = min(r["ulo"] for r in per_file); hi_u = max(r["uhi"] for r in per_file)
        lo_v = min(r["vlo"] for r in per_file); hi_v = max(r["vhi"] for r in per_file)
        areas = [
            ((r["uhi"] - r["ulo"]) / max(hi_u - lo_u, 1))
            * ((r["vhi"] - r["vlo"]) / max(hi_v - lo_v, 1e-9))
            for r in per_file
        ]
        return sum(areas) / len(areas), len(per_file)

    z_area, z_files = mean_bbox_area(zpath)
    r_area, _ = mean_bbox_area(rpath)
    assert z_files >= 4  # range partitioner actually spread the keyspace
    assert r_area > 0.5  # random layout: every file spans ~the full space
    assert z_area < r_area / 3, (z_area, r_area)
    # the write must not leak the derived key
    assert spark.read.parquet(zpath).columns == ["user_id", "value"]


def test_schema_evolution_merge_read(spark, sf_dir, tmp_path):
    """A later ETL release adds a column: files written before and after
    must read together under merge_schema=True, with NULLs surfacing for
    pre-evolution rows — and the declared-schema read (the default)
    still works for pipelines pinned to the v1 contract."""
    from serverless_etl_reporting_pipeline_spark.sources.lake import read_lake

    lake = str(tmp_path / "lake")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    v1 = ev.filter("event_id % 2 = 0")
    v2 = ev.filter("event_id % 2 = 1").withColumn(
        "quality_score", (F.col("value") * 2).cast("double")
    )
    v1.write.mode("append").parquet(lake)
    v2.write.mode("append").parquet(lake)

    merged = read_lake(spark, lake, merge_schema=True)
    assert set(merged.columns) == {"event_id", "user_id", "value", "quality_score"}
    assert merged.count() == ev.count()
    nulls = merged.filter(F.col("quality_score").isNull()).count()
    assert nulls == v1.count()  # exactly the pre-evolution rows
    # evolved rows keep their values
    got = merged.filter("event_id % 2 = 1").filter(F.col("quality_score").isNull()).count()
    assert got == 0


def test_zorder_write_degenerate_inputs(spark, tmp_path):
    """Empty input and all-NULL z-columns must fall back to a plain
    write (no float(None) crash in zorder_key), and NULL z-values in a
    mixed column must land in cell 0, not scatter into the top cell."""
    from serverless_etl_reporting_pipeline_spark.sources.lake import write_zordered, zorder_key

    empty = spark.range(0).select(
        F.col("id").alias("a"), F.col("id").cast("double").alias("b")
    )
    write_zordered(empty, str(tmp_path / "empty"), ["a", "b"], n_files=4)
    assert spark.read.parquet(str(tmp_path / "empty")).count() == 0

    allnull = spark.range(10).select(
        F.col("id").alias("a"), F.lit(None).cast("double").alias("b")
    )
    write_zordered(allnull, str(tmp_path / "allnull"), ["a", "b"], n_files=4)
    assert spark.read.parquet(str(tmp_path / "allnull")).count() == 10

    mixed = spark.createDataFrame([(0.0,), (63.0,), (None,)], "x double")
    z = mixed.select(
        zorder_key([F.col("x"), F.col("x")], [0.0, 0.0], [63.0, 63.0], bits=4).alias("z")
    ).collect()
    assert z[2]["z"] == z[0]["z"] == 0, z  # NULL clamps to cell 0 like the min


def test_zorder_key_interleave_inverts(spark):
    """The Morton key must be exactly the bit-interleave of the scaled
    coordinates: de-interleaving the produced key recovers the same cell
    coords as scaling directly — the property that makes z-ranges map to
    coordinate rectangles (and thus min/max stats prunable)."""
    from serverless_etl_reporting_pipeline_spark.sources.lake import zorder_key

    bits = 6
    df = spark.range(500).select(
        (F.col("id") % 63).cast("double").alias("x"),
        ((F.col("id") * 7) % 63).cast("double").alias("y"),
    )
    rows = df.select(
        "x", "y", zorder_key([F.col("x"), F.col("y")], [0.0, 0.0], [63.0, 63.0], bits=bits).alias("z")
    ).collect()
    top = (1 << bits) - 1
    for r in rows:
        sx = min(top, max(0, round((r["x"] - 0.0) / 63.0 * top)))
        sy = min(top, max(0, round((r["y"] - 0.0) / 63.0 * top)))
        dx = dy = 0
        for b in range(bits):
            dx |= ((r["z"] >> (2 * b)) & 1) << b
            dy |= ((r["z"] >> (2 * b + 1)) & 1) << b
        assert (dx, dy) == (sx, sy), (r, sx, sy, dx, dy)


def test_training_shard_write_reproducible_and_ordered(spark, sf_dir, tmp_path):
    """The shard export must (a) round-trip every row exactly once,
    (b) give each shard a contiguous 1..k pos sequence matching the
    shard_plan operator, and (c) be bit-identical across two writes
    (no RNG state — a trainer can re-materialize the same stream)."""
    from serverless_etl_reporting_pipeline_spark.operators.text import shard_plan
    from serverless_etl_reporting_pipeline_spark.sources.lake import write_training_shards

    docs = load_table(spark, sf_dir, "documents")
    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    write_training_shards(docs, p1, "doc_id", 8)
    write_training_shards(docs.repartition(7), p2, "doc_id", 8)  # input split must not matter

    back = spark.read.parquet(p1)
    assert back.count() == docs.count()
    assert back.select("doc_id").distinct().count() == docs.count()
    got = {(r["doc_id"], r["shard"], r["pos"]) for r in back.select("doc_id", "shard", "pos").collect()}
    want = {(r["doc_id"], r["shard"], r["pos"]) for r in shard_plan(docs, "doc_id", 8).collect()}
    assert got == want
    # contiguous positions per shard
    per = back.groupBy("shard").agg(
        F.count("*").alias("n"), F.min("pos").alias("lo"), F.max("pos").alias("hi")
    ).collect()
    assert len(per) == 8 and all(r["lo"] == 1 and r["hi"] == r["n"] for r in per)
    # reasonably balanced (md5 is uniform): no shard > 2x the mean
    n = docs.count()
    assert all(r["n"] < 2 * n / 8 for r in per)
    # write #2 identical
    got2 = {(r["doc_id"], r["shard"], r["pos"]) for r in spark.read.parquet(p2).select("doc_id", "shard", "pos").collect()}
    assert got2 == got
    # single-exchange contract (r7 verdict ask #2): the row_number window's
    # hash exchange on shard is the ONLY shuffle the writer pays — no
    # second range exchange of the full rows on top
    from serverless_etl_reporting_pipeline_spark.sources.lake import _sharded_frame

    plan = _sharded_frame(docs, "doc_id", 8, "shard-v1")._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange ")
    assert n_exchanges == 1, f"expected 1 exchange, saw {n_exchanges}:\n{plan[:3000]}"


def test_spread_scan_semantics(spark, sf_dir, monkeypatch):
    """spread_scan (r10 fan-out fix, r14 size-aware width) must
    (a) size the spread as ceil(bytes / SPARK_GRAFT_SPREAD_TARGET_BYTES)
    capped at cluster parallelism, (b) leave a scan alone when its
    existing splits already cover that width (KB-scale fixture scans no
    longer fan to 32 tasks — the r13 anti-scaling finding), and
    (c) never change results — the fan-out queries it guards are
    oracle-checked, this pins the helper itself."""
    import os as _os

    from serverless_etl_reporting_pipeline_spark.sources import reader
    from serverless_etl_reporting_pipeline_spark.sources.reader import (
        load_table,
        spread_scan,
        table_path,
    )

    docs = load_table(spark, sf_dir, "documents")
    assert docs.rdd.getNumPartitions() == 1  # the fixture premise
    nbytes = _os.path.getsize(table_path(sf_dir, "documents"))
    target = spark.sparkContext.defaultParallelism

    # (b) default target (64 KB): a tiny fixture scan stays unspread —
    # the SAME frame comes back, no exchange at all, and is memoized
    if nbytes <= 64 * 1024:
        assert spread_scan(docs, "doc_id") is docs
        assert docs in reader._SPREAD_FRAMES

    # (a) a 1-byte target demands more partitions than cores: capped
    monkeypatch.setenv("SPARK_GRAFT_SPREAD_TARGET_BYTES", "1")
    spread = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    assert spread.rdd.getNumPartitions() == target
    # no-op on an already-spread frame: the SAME object comes back
    assert spread_scan(spread, "doc_id") is spread
    # (a) width tracks input bytes when under the core cap
    monkeypatch.setenv("SPARK_GRAFT_SPREAD_TARGET_BYTES", str(max(1, nbytes // 3)))
    mid = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    assert mid.rdd.getNumPartitions() == min(target, -(-nbytes // max(1, nbytes // 3)))
    # (c) row-identical (it is only an exchange)
    assert sorted(r["doc_id"] for r in spread.collect()) == sorted(
        r["doc_id"] for r in docs.collect()
    )


def test_local_file_bytes_unquotes_file_uris(tmp_path):
    """inputFiles() percent-encodes paths; a space must still be sized,
    not fall back to the core-count spread width."""
    from serverless_etl_reporting_pipeline_spark.sources.reader import _local_file_bytes

    d = tmp_path / "a b"
    d.mkdir()
    (d / "x.parquet").write_bytes(b"0123456789")
    assert _local_file_bytes([f"file:{tmp_path}/a%20b/x.parquet"]) == 10
    assert _local_file_bytes([f"file://{tmp_path}/a%20b/x.parquet"]) == 10


def test_load_table_infers_schema_once(spark, tmp_path, count_jobs):
    """The schema inference job runs once per file version: a second
    read of the same table launches no job, a rewritten file is
    re-inferred."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "nation.parquet")
    pq.write_table(pa.table({"n_nationkey": [1, 2], "n_name": ["A", "B"]}), path)
    first_jobs, first = count_jobs(lambda: load_table(spark, str(tmp_path), "nation"))
    assert first_jobs == 1
    again_jobs, again = count_jobs(lambda: load_table(spark, str(tmp_path), "nation"))
    assert again_jobs == 0
    assert again.schema == first.schema == spark.read.parquet(path).schema
    assert sorted(again.collect()) == sorted(first.collect())

    pq.write_table(pa.table({"n_nationkey": [3], "n_name": ["C"], "n_comment": ["c"]}), path)
    assert load_table(spark, str(tmp_path), "nation").columns == ["n_nationkey", "n_name", "n_comment"]


def test_e08_synthetic_cdc_edges(spark, tmp_path):
    """Incremental SCD2 apply on a doctored corpus exercising every CDC
    class the fixtures may under-represent: a user with a multi-row
    delta chain, a user new in the delta, an untouched base user, and a
    base user with existing closed history — result must equal the
    from-scratch e01 rebuild over the union."""
    import datetime

    from pyspark.sql import Window

    from serverless_etl_reporting_pipeline_spark.plans import REGISTRY
    from serverless_etl_reporting_pipeline_spark.sources.schemas import SCHEMAS

    def t(day, hour=0):
        return datetime.datetime(2024, 1, day, hour)

    # watermark in the query is 2024-01-24
    rows = [
        # u1: two base versions + two delta versions (close + chain)
        (1, t(2), 1, "purchase", 10.0, "{}"),
        (2, t(10), 1, "purchase", 11.0, "{}"),
        (3, t(25), 1, "purchase", 12.0, "{}"),
        (4, t(26), 1, "purchase", 13.0, "{}"),
        # u2: untouched base user (open row must survive unchanged)
        (5, t(5), 2, "purchase", 20.0, "{}"),
        # u3: new in the delta only
        (6, t(27), 3, "purchase", 30.0, "{}"),
        (7, t(28), 3, "purchase", 31.0, "{}"),
        # noise: non-purchase rows must be ignored
        (8, t(3), 1, "view", 0.0, "{}"),
    ]
    spark.createDataFrame(rows, SCHEMAS["events"]).coalesce(1).write.parquet(
        str(tmp_path / "events.parquet")
    )
    got = [tuple(r) for r in
           REGISTRY["e08_scd2_incremental_apply"].builder(spark, str(tmp_path)).collect()]

    ev = spark.read.parquet(str(tmp_path / "events.parquet")).filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    want = [tuple(r) for r in
            ev.select("user_id", "event_id", "value",
                      F.col("ts").alias("valid_from"),
                      nxt.alias("valid_to"), nxt.isNull().alias("is_current"))
            .orderBy("user_id", "valid_from").collect()]
    assert got == want
    # spot-pin the CDC classes
    by_eid = {r[1]: r for r in got}
    assert by_eid[2][4] == t(25) and by_eid[2][5] is False  # u1 open row closed at first delta ts
    assert by_eid[5][4] is None and by_eid[5][5] is True    # u2 untouched, still open
    assert by_eid[6][4] == t(28) and by_eid[7][5] is True   # u3 chained within delta
    spark.catalog.clearCache()


def test_e08_empty_delta_and_empty_base(spark, tmp_path):
    """r7 verdict ask #5 (degenerate-input hunt): an EMPTY delta must
    reproduce the base history unchanged (no row closed, no row added),
    and an EMPTY base (every event past the watermark) must produce the
    pure-delta history — both equal to the from-scratch e01 rebuild."""
    import datetime

    from pyspark.sql import Window

    from serverless_etl_reporting_pipeline_spark.plans import REGISTRY
    from serverless_etl_reporting_pipeline_spark.sources.schemas import SCHEMAS

    def t(day, hour=0):
        return datetime.datetime(2024, 1, day, hour)

    def rebuild(path):
        ev = spark.read.parquet(f"{path}/events.parquet").filter(
            F.col("event_type") == "purchase"
        )
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        nxt = F.lead("ts").over(w)
        return [tuple(r) for r in
                ev.select("user_id", "event_id", "value",
                          F.col("ts").alias("valid_from"),
                          nxt.alias("valid_to"), nxt.isNull().alias("is_current"))
                .orderBy("user_id", "valid_from").collect()]

    # watermark in the query is 2024-01-24; all rows before it
    base_only = [
        (1, t(2), 1, "purchase", 10.0, "{}"),
        (2, t(10), 1, "purchase", 11.0, "{}"),
        (3, t(5), 2, "purchase", 20.0, "{}"),
    ]
    p1 = str(tmp_path / "b")
    spark.createDataFrame(base_only, SCHEMAS["events"]).coalesce(1).write.parquet(
        f"{p1}/events.parquet"
    )
    got = [tuple(r) for r in
           REGISTRY["e08_scd2_incremental_apply"].builder(spark, p1).collect()]
    assert got == rebuild(p1) and len(got) == 3

    # all rows after the watermark: base empty, everything is new
    delta_only = [
        (1, t(25), 1, "purchase", 10.0, "{}"),
        (2, t(26), 1, "purchase", 11.0, "{}"),
        (3, t(27), 3, "purchase", 30.0, "{}"),
    ]
    p2 = str(tmp_path / "d")
    spark.createDataFrame(delta_only, SCHEMAS["events"]).coalesce(1).write.parquet(
        f"{p2}/events.parquet"
    )
    got = [tuple(r) for r in
           REGISTRY["e08_scd2_incremental_apply"].builder(spark, p2).collect()]
    assert got == rebuild(p2) and len(got) == 3
    spark.catalog.clearCache()


def test_scoped_scratch_dir_hygiene(tmp_path):
    """The app-scoped scratch roots (s04/s05 staged drains, pipe03 base
    state) must not grow without bound across processes (r13 verdict
    ask #7): a later application reaps sibling dirs older than the
    stale cutoff, leaves fresh siblings (a concurrently-running app)
    alone, and registers its own dir for atexit removal."""
    import os
    import time

    from serverless_etl_reporting_pipeline_spark.sources import reader

    root = str(tmp_path / "scratch")
    old = os.path.join(root, "app-dead")
    fresh = os.path.join(root, "app-alive")
    os.makedirs(old)
    os.makedirs(fresh)
    stale = time.time() - reader._SCRATCH_MAX_AGE_S - 60
    os.utime(old, (stale, stale))

    own = reader.scoped_scratch_dir(root, "app-self")
    assert own == os.path.join(root, "app-self")
    assert not os.path.exists(old), "stale sibling must be reaped"
    assert os.path.exists(fresh), "fresh sibling (live app) must survive"

    # repeated calls are one-shot per (root, app): no error, same path
    assert reader.scoped_scratch_dir(root, "app-self") == own

    # the atexit hook removes this app's dir on clean shutdown — call
    # the registered cleanup directly (we cannot exit the interpreter)
    import shutil

    os.makedirs(own, exist_ok=True)
    shutil.rmtree(own, ignore_errors=True)  # what the hook runs
    assert not os.path.exists(own)


def test_scoped_scratch_dir_heartbeat(tmp_path):
    """A live app older than the stale cutoff keeps its dir: every call
    refreshes its own dir's mtime, so a newer process reaps only the
    dead sibling."""
    import os
    import time

    from serverless_etl_reporting_pipeline_spark.sources import reader

    root = str(tmp_path / "scratch")
    own = reader.scoped_scratch_dir(root, "app-live")
    dead = os.path.join(root, "app-dead")
    os.makedirs(own)
    os.makedirs(dead)
    stale = time.time() - 25 * 3600
    for d in (own, dead):
        os.utime(d, (stale, stale))

    assert reader.scoped_scratch_dir(root, "app-live") == own
    assert os.path.getmtime(own) > time.time() - 60
    reader.scoped_scratch_dir(root, "app-newer")
    assert os.path.exists(own), "live app's dir must survive"
    assert not os.path.exists(dead), "stale sibling must be reaped"
