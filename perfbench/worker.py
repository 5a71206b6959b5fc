"""One benchmark run of one workload, in a fresh process that owns the
Spark session.

``run.py`` starts this with a fresh TMPDIR, Spark local dir and
PYTHONPATH, and reads the JSON object it writes to ``<run-dir>/result.json``.
The run is: start the session, stage seeded inputs (three times; the
median counts), warm up, then the timed phase — a fixed sequence of
passes over the workload's ops in a closed loop with one client — and
finally the correctness checks that must stay outside the timed phase.
With ``--trace 1`` the same timed phase runs with a tracer that records
spans and Spark's own counters per op.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any, Callable

import datagen
import probe


# ---- tracing --------------------------------------------------------------


class Tracer:
    """Spans (name, start, end, parent, op) and per-op counters, kept in
    memory and written as JSON lines at the end. With ``jvm=None`` every
    call is a no-op, which is how untraced passes run."""

    def __init__(self, jvm: probe.JvmProbe | None):
        self.jvm = jvm
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.frames: list = []  # DataFrames the current op collected
        self.notes: dict = {}  # counts the current op reports (rows written, ...)
        self._stack: list[int] = []
        self._op: str | None = None
        self.cost_s = 0.0  # time spent in the tracer's own reads

    @property
    def on(self) -> bool:
        return self.jvm is not None

    @contextmanager
    def span(self, name: str):
        if self.jvm is None:
            yield
            return
        t = time.perf_counter()
        j0 = self.jvm.jobs_started()
        rec = {"id": len(self.spans), "name": name, "op": self._op,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.cost_s += time.perf_counter() - t
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            t = time.perf_counter()
            rec["jobs"] = self.jvm.jobs_started() - j0
            self._stack.pop()
            self.cost_s += time.perf_counter() - t

    def begin_op(self, op_id: str) -> None:
        self._op = op_id
        self.frames = []
        self.notes = {}
        if self.jvm is not None:
            t = time.perf_counter()
            # the tag names the op in Spark's own records; the counts use
            # the job-id range, which also holds the jobs a streaming query
            # runs under its own group
            self.jvm.spark.sparkContext.setJobGroup(op_id, op_id)
            self._j0 = self.jvm.jobs_started()
            self.cost_s += time.perf_counter() - t

    def end_op(self, op: "Op", pass_no: int, step: int, latency: float, ok: bool) -> None:
        if self.jvm is None:
            return
        t = time.perf_counter()
        rec: dict[str, Any] = {"op": self._op, "name": op.name, "layer": op.layer,
                               "pass": pass_no, "step": step, "latency_s": latency, "ok": ok}
        rec.update(self.jvm.job_stats(self._j0, self.jvm.jobs_started()))
        plan = dict.fromkeys(probe.PLAN_METRICS, 0)
        for df in self.frames if ok else ():
            for k, v in self.jvm.plan_metrics(df).items():
                plan[k] += v
        rec.update(plan)
        rec["files_read"] += self.notes.pop("files_read", 0)
        rec["frames_left"] = self.jvm.persisted_rdds()
        for s in self.spans:
            if s["op"] == self._op and s["parent"] is not None:
                rec[s["name"] + "_s"] = rec.get(s["name"] + "_s", 0.0) + s["end"] - s["start"]
                rec[s["name"] + "_jobs"] = rec.get(s["name"] + "_jobs", 0) + s["jobs"]
        rec.update(self.notes)
        self.ops.append(rec)
        self.cost_s += time.perf_counter() - t

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({"kind": "span", **s}) + "\n")
            for r in self.ops:
                fh.write(json.dumps({"kind": "op", **r}) + "\n")


# ---- ops and workloads ----------------------------------------------------


@dataclass
class Op:
    """One public call into the engine. ``run`` returns a value that
    ``check`` validates, raising on a wrong output."""

    name: str
    layer: str
    run: Callable[[Tracer], Any]
    check: Callable[[Any], None] = lambda _v: None


def _norm(v):
    if isinstance(v, float):
        return float(f"{v:.9g}")  # last-bit sum-order noise is not a change
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def row_hash(rows) -> str:
    keys = sorted(repr(tuple(_norm(x) for x in r)) for r in rows)
    return hashlib.sha1("\n".join(keys).encode()).hexdigest()


class QueryWorkload:
    """Registry queries: one op = build the DataFrame + ``collect()``.
    Every timed repeat must return the warm-up's row hash; the warm-up's
    rows are compared with the DuckDB oracle after the timed phase."""

    def __init__(self, spark, queries: tuple[str, ...], sf: float):
        from serverless_etl_reporting_pipeline_spark.plans import REGISTRY

        by_prefix = {n.split("_", 1)[0]: q for n, q in REGISTRY.items()}
        self.spark = spark
        self.queries = {p: by_prefix[p] for p in queries}
        self.sf = sf
        self.first: dict[str, tuple[list, list[str], str]] = {}

    def stage(self, data_dir: str, seed: int) -> None:
        from serverless_etl_reporting_pipeline_spark.sources.reader import table_path

        self.sf_dir = os.path.join(data_dir, "sf")
        datagen.star_schema(self.sf_dir, self.sf, seed)
        table_path(self.sf_dir, "events")  # the reader's µs events copy, under TMPDIR

    def warm_up(self) -> None:
        """One untimed pass over every query: codegen and JIT for each plan
        happen here, and its results are the reference for the checks."""
        for p in sorted(self.queries):
            op = self._op(p)
            op.check(op.run(Tracer(None)))
            self.after_op()

    def passes(self, seed: int, n_passes: int):
        for k in range(n_passes):
            order = sorted(self.queries)
            random.Random(f"{seed}-{k}").shuffle(order)
            yield [self._op(p) for p in order]

    def _op(self, p: str) -> Op:
        q = self.queries[p]

        def run(t: Tracer):
            with t.span("plans.build"):
                df = q.builder(self.spark, self.sf_dir)
            with t.span("plans.exec"):
                rows = df.collect()
            t.frames.append(df)
            t.notes["result_rows"] = len(rows)
            return df, rows

        def check(v):
            df, rows = v
            h = row_hash(rows)
            if p not in self.first:
                self.first[p] = (rows, df.columns, h)
            elif self.first[p][2] != h:
                raise AssertionError(f"{p}: row hash {h} differs from the first run's")

        return Op(p, "plans", run, check)

    def after_op(self) -> None:
        # builders that persist() leave cached frames behind; drop them the
        # way bench.py does so the next op's timing is its own
        self.spark.catalog.clearCache()

    def final_checks(self) -> list[str]:
        """Each query's warm-up rows against its DuckDB oracle."""
        sys.path.insert(0, os.getcwd())
        from tools.oracle_check import compare, duck_connect

        con = duck_connect(self.sf_dir)
        bad = []
        for p, (rows, cols, _h) in sorted(self.first.items()):
            oracle = self.queries[p].oracle
            if oracle is None:
                continue
            rel = con.sql(oracle)
            ok, msg, _dev = compare(rows, rel.fetchall(), cols, list(rel.columns))
            if not ok:
                bad.append(f"{p}: {msg}")
        con.close()
        return bad

    def gauges(self) -> dict[str, float]:
        return {}

    def stored_mb(self) -> float:
        """The staged input tables (queries write nothing of their own)."""
        return probe.dir_stats(self.sf_dir)[0]


class IngestWorkload:
    """ETL → report → dashboard → SCD2 drain cycles over a growing lake.

    Each pass starts from an empty lake and runs ``cycles`` cycles; cycle
    ``c`` lands a seeded raw increment (one day of T3 transactions with
    injected drops) and that day's slice of the events feed, then runs
    ``etl.run_pipeline``, the watermark day's ``daily_metrics`` +
    ``render_html``, three ``Dashboard`` panels over the whole lake, and
    ``incremental_scd2_drain``; ``compact_scd2_hist`` runs every
    ``compact_every`` cycles."""

    ROWS_PER_CYCLE = 10_000
    EVENTS = 100_000  # over 30 days, sliced one day per cycle
    USERS = 1_500

    def __init__(self, spark, cycles: int, compact_every: int):
        self.spark = spark
        self.cycles = cycles
        self.compact_every = compact_every
        self.pass_no = 0
        self.pass_failures: list[str] = []

    def stage(self, data_dir: str, seed: int) -> None:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        self.data_dir = data_dir
        staged = os.path.join(data_dir, "staged")
        os.makedirs(staged, exist_ok=True)
        self.incs = []
        first_id = 0
        # cycle -1 feeds the warm-up lake only
        for c in range(-1, self.cycles):
            inc = datagen.raw_increment(seed, c + 1, self.ROWS_PER_CYCLE, first_id)
            first_id += len(inc.rows)
            datagen.write_increment(os.path.join(staged, f"raw-{c + 1}.parquet"), inc)
            self.incs.append(inc)
        ev = datagen.events(seed, self.EVENTS, self.USERS)
        day = pc.floor_temporal(ev["ts"], unit="day")
        days = sorted(set(day.to_pylist()))
        self.purchases = []
        for c in range(self.cycles + 1):
            part = ev.filter(pc.equal(day, days[c]))
            pq.write_table(part, os.path.join(staged, f"events-{c}.parquet"))
            self.purchases.append(sum(1 for t in part["event_type"].to_pylist() if t == "purchase"))

    def warm_up(self) -> None:
        lake = self._paths("warm")
        for op in self._cycle(lake, 0, warm=True):
            op.check(op.run(Tracer(None)))
        self.spark.catalog.clearCache()
        shutil.rmtree(lake["root"], ignore_errors=True)

    def _paths(self, tag: str) -> dict[str, str]:
        root = os.path.join(self.data_dir, f"lake-{tag}")
        p = {"root": root, "raw": os.path.join(root, "raw"), "lake": os.path.join(root, "lake", "transactions"),
             "state": os.path.join(root, "state", "last_run.txt"), "events": os.path.join(root, "events_src"),
             "scd2": os.path.join(root, "scd2")}
        os.makedirs(p["raw"], exist_ok=True)
        os.makedirs(p["events"], exist_ok=True)
        return p

    def passes(self, seed: int, n_passes: int):
        for k in range(n_passes):
            self.cur = self._paths(f"pass{k}")
            self.pass_no = k
            ops = []
            for c in range(1, self.cycles + 1):
                ops.extend(self._cycle(self.cur, c))
            yield ops
            self.pass_failures += self.check_pass()
            if k < n_passes - 1:
                shutil.rmtree(self.cur["root"], ignore_errors=True)

    def _cycle(self, p: dict[str, str], c: int, warm: bool = False) -> list[Op]:
        """Ops of cycle ``c`` (1-based; 0 is the warm-up cycle). Landing
        the cycle's files is part of its first op's setup, not timed."""
        from pyspark.sql import functions as F

        from serverless_etl_reporting_pipeline_spark.etl import RAW_TRANSACTIONS_SCHEMA, run_pipeline
        from serverless_etl_reporting_pipeline_spark.report import daily_metrics, render_html
        from serverless_etl_reporting_pipeline_spark.report.dashboard import Dashboard, filtered_frame
        from serverless_etl_reporting_pipeline_spark.sources.schemas import SCHEMAS
        from serverless_etl_reporting_pipeline_spark.streaming.scd2 import compact_scd2_hist, incremental_scd2_drain

        spark, inc = self.spark, self.incs[c]
        staged = os.path.join(self.data_dir, "staged")
        done = self.incs[1: c + 1] if not warm else [inc]
        state: dict[str, Any] = {}

        def land(name: str, dst_dir: str) -> None:
            shutil.copyfile(os.path.join(staged, name), os.path.join(dst_dir, name))

        def etl(t):
            land(f"raw-{c}.parquet", p["raw"])
            raw = spark.read.schema(RAW_TRANSACTIONS_SCHEMA).parquet(p["raw"])
            res = run_pipeline(raw, p["lake"], p["state"], write_dims=True)
            t.notes.update(rows_written=res.rows_written, rows_landed=len(inc.rows))
            return res

        def etl_check(res):
            if res.rows_written != inc.expect_written:
                raise AssertionError(f"cycle {c}: rows_written {res.rows_written} != {inc.expect_written}")

        def lake_day():
            y, m, d = (int(x) for x in inc.day.split("-"))
            return spark.read.parquet(p["lake"]).filter((F.col("year") == y) & (F.col("month") == m) & (F.col("day") == d))

        def metrics(t):
            state["metrics"] = daily_metrics(lake_day())
            if t.on:  # the day partition is what the report scans
                y, m, d = (int(x) for x in inc.day.split("-"))
                t.notes["files_read"] = probe.dir_stats(f"{p['lake']}/year={y}/month={m}/day={d}")[1]
            return state["metrics"]

        def metrics_check(m):
            if m["total_transactions"] != inc.expect_written or round(m["total_revenue"] * 100) != inc.expect_cents:
                raise AssertionError(f"cycle {c}: report totals {m['total_transactions']}/{m['total_revenue']}")

        def render(t):
            return render_html(state["metrics"], title=f"T3 {inc.day}")

        def render_check(html):
            if f"{inc.expect_cents / 100:.2f}" not in html:
                raise AssertionError(f"cycle {c}: rendered report lacks the day's revenue")

        def panel(name: str, build):
            def run(t):
                if "dash" not in state:
                    lake = spark.read.parquet(p["lake"]).withColumn("date", F.to_date("at"))
                    state["dash"] = Dashboard(filtered_frame(lake))
                    if t.on:  # the first panel fills the cache from the whole lake
                        t.notes["files_read"] = probe.dir_stats(p["lake"])[1]
                df = build(state["dash"])
                rows = df.collect()
                t.frames.append(df)
                if name == "daily_trend":
                    state.pop("dash").close()
                return rows
            return run

        def headline_check(rows):
            want_n = sum(i.expect_written for i in done)
            want_c = sum(i.expect_cents for i in done)
            r = rows[0]
            if r["transactions"] != want_n or round(r["total_revenue"] * 100) != want_c:
                raise AssertionError(f"cycle {c}: dashboard headline {r['transactions']}/{r['total_revenue']}")

        def trend_check(rows):
            if len(rows) != len(done):
                raise AssertionError(f"cycle {c}: daily trend has {len(rows)} days, want {len(done)}")

        def drain(t):
            land(f"events-{c}.parquet", p["events"])
            return incremental_scd2_drain(spark, p["events"], SCHEMAS["events"], p["scd2"])

        def drain_check(n):
            if n != (1 if self.purchases[c] else 0):
                raise AssertionError(f"cycle {c}: drain processed {n} batches")

        def compact(t):
            return compact_scd2_hist(spark, p["scd2"])

        def compact_check(upto):
            if upto is None:
                raise AssertionError(f"cycle {c}: compaction folded nothing")

        ops = [
            Op("etl.run_pipeline", "etl", etl, etl_check),
            Op("report.daily_metrics", "report", metrics, metrics_check),
            Op("report.render_html", "report", render, render_check),
            Op("report.dashboard.headline", "report", panel("headline", lambda d: d.headline()), headline_check),
            Op("report.dashboard.by_truck", "report", panel("by_truck", lambda d: d.by_column("truck_name"))),
            Op("report.dashboard.daily_trend", "report", panel("daily_trend", lambda d: d.daily_trend()), trend_check),
            Op("streaming.drain", "streaming", drain, drain_check),
        ]
        if warm or c % self.compact_every == 0:
            ops.append(Op("streaming.compact", "streaming", compact, compact_check))
        return ops

    def after_op(self) -> None:
        pass

    def check_pass(self) -> list[str]:
        """The SCD2 log must hold one version per drained purchase event."""
        from serverless_etl_reporting_pipeline_spark.streaming.scd2 import scd2_table

        got = scd2_table(self.spark, self.cur["scd2"]).count()
        want = sum(self.purchases[1: self.cycles + 1])
        return [] if got == want else [f"pass {self.pass_no}: SCD2 log has {got} versions, want {want}"]

    def final_checks(self) -> list[str]:
        return self.pass_failures

    def stored_mb(self) -> float:
        """The lake with its dims, the watermark and the SCD2 state."""
        root = self.cur["root"]
        return sum(probe.dir_stats(os.path.join(root, d))[0] for d in ("lake", "state", "scd2"))

    def gauges(self) -> dict[str, float]:
        """State left by the last pass (every pass does the same work)."""
        _, lake_files = probe.dir_stats(os.path.dirname(self.cur["lake"]))
        state_mb, _ = probe.dir_stats(self.cur["scd2"])
        hist = os.path.join(self.cur["scd2"], "scd2_hist")
        segments = sum(1 for n in os.listdir(hist) if n.startswith("batch=")) if os.path.isdir(hist) else 0
        return {"sources.lake_files": lake_files, "streaming.state_mb": state_mb,
                "streaming.segments": segments}


# Curation: n-gram Jaccard over exploded text (t07), bloom-filter
# decontamination (c02), vector search with Arrow kernels in Python
# workers (v02 applyInPandas grid, v05 IVF with a centroid collect inside
# the builder, v06 mapInPandas RP-LSH, v09 embedding LSH) and a KMV
# sketch (x03). The other nine curation queries are left out: on 4 cores
# they take 2-6 s each warm (t11 alone 4-5 s, and the noisiest op), and a
# run has to fit a cold warm-up pass and two timed passes into a minute.
CURATION = ("t07", "c02", "v02", "v05", "v06", "v09", "x03")
CURATION_SF = 0.01
INGEST_CYCLES = 3
INGEST_COMPACT_EVERY = 1
# nominal pass length on 4 cores: the timed phase runs
# max(1, round(seconds / nominal)) passes, a fixed sequence per --seconds
NOMINAL_PASS_S = {"curation": 12.0, "ingest": 25.0}


def make_workload(name: str, spark):
    if name == "curation":
        return QueryWorkload(spark, CURATION, CURATION_SF)
    if name == "ingest":
        return IngestWorkload(spark, INGEST_CYCLES, INGEST_COMPACT_EVERY)
    raise ValueError(f"unknown workload {name!r}")


# ---- the run --------------------------------------------------------------


def tail_percentile(n: int) -> int:
    """Highest of p75/p90/p95/p99 with at least ten samples beyond it;
    p50 otherwise (which has ten beyond it from 20 samples on)."""
    return max([50] + [p for p in (75, 90, 95, 99) if n * (100 - p) / 100 >= 10])


def percentile(xs: list[float], p: int) -> float:
    """Linear-interpolated percentile of a non-empty list."""
    s = sorted(xs)
    pos = (len(s) - 1) * p / 100
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def main() -> int:
    t_proc = float(os.environ["PERFBENCH_T0"])
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    a = ap.parse_args()

    from serverless_etl_reporting_pipeline_spark.session import get_spark

    run_dir = a.run_dir
    seed = a.seed % (1 << 64)  # numpy seeds must be non-negative
    t0 = time.time()
    spark = get_spark(
        driver_memory=os.environ["SPARK_GRAFT_DRIVER_MEM"],
        extra_conf={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.time() - t0
    t_session = time.time()
    jvm = probe.JvmProbe(spark)
    wl = make_workload(a.workload, spark)

    stage_s = []
    for k in range(3):
        data_dir = os.path.join(run_dir, f"data{k}")
        if k:
            shutil.rmtree(os.path.join(run_dir, f"data{k - 1}"), ignore_errors=True)
        t = time.time()
        wl.stage(data_dir, seed)
        stage_s.append(time.time() - t)
    t = time.time()
    wl.warm_up()
    warm_s = time.time() - t
    setup_s = (t_session - t_proc) + statistics.median(stage_s) + warm_s

    n_passes = max(1, round(a.seconds / NOMINAL_PASS_S[a.workload]))
    tracer = Tracer(jvm if a.trace else None)
    latencies: list[float] = []
    attempted = failed = 0
    failures: list[str] = []
    wall = cpu = 0.0
    pid = os.getpid()
    steal0, gc0 = probe.steal_s(), jvm.gc_totals()
    for k, ops in enumerate(wl.passes(seed, n_passes)):
        c0, w0 = probe.tree_cpu(pid)["total"], time.perf_counter()
        for i, op in enumerate(ops):
            attempted += 1
            tracer.begin_op(f"p{k}.{i}.{op.name}")
            ok = True
            t = time.perf_counter()
            try:
                with tracer.span(op.name):
                    out = op.run(tracer)
                lat = time.perf_counter() - t
                op.check(out)
            except Exception as e:  # one failed op must not end the run
                lat = time.perf_counter() - t
                ok = False
                failed += 1
                failures.append(f"{op.name}: {type(e).__name__}: {str(e)[:300]}")
                traceback.print_exc(file=sys.stderr)
            if ok:
                latencies.append(lat)
            print(f"pass {k} op {i} {op.name}: {lat:.3f} s{'' if ok else ' FAILED'}", file=sys.stderr)
            tracer.end_op(op, k, i, lat, ok)
            wl.after_op()
        wall += time.perf_counter() - w0
        cpu += probe.tree_cpu(pid)["total"] - c0
    steal1, gc1 = probe.steal_s(), jvm.gc_totals()
    tracer.frames = []
    ops = op = out = None  # release the last DataFrames before the heap reading
    live_heap_mb = jvm.heap_after_gc_mb()
    stored_mb = wl.stored_mb()

    try:
        bad = wl.final_checks()
    except Exception as e:  # a check that cannot run is a failed check
        bad = [f"final checks: {type(e).__name__}: {e}"]
    failed += len(bad)
    failures += bad

    pct = tail_percentile(len(latencies))
    result: dict[str, Any] = {
        "ops": attempted,
        "ops_failed": failed,
        "failures": failures,
        "passes": n_passes,
        "tail_percentile": pct,
        "tail_samples_beyond": sum(1 for x in latencies if x > percentile(latencies, pct)) if latencies else 0,
        "setup_parts_s": {"process_and_session": t_session - t_proc, "stage_median": statistics.median(stage_s),
                          "warm_up": warm_s},
        "end_to_end": {
            "setup_s": setup_s,
            "wall_s": wall,
            "cpu_s": cpu,
            "op_p50_s": percentile(latencies, 50) if latencies else 0.0,
            "op_tail_s": percentile(latencies, pct) if latencies else 0.0,
            "live_heap_mb": live_heap_mb,
            "stored_mb": stored_mb,
        },
    }
    if a.trace:
        result["per_layer"] = per_layer(tracer, wl.gauges(), session_start_s, wall, steal1 - steal0, gc0, gc1)
        result["counts_repeat"] = counts_repeat(tracer.ops)
        trace_path = os.path.join(os.environ["PERFBENCH_TRACE_DIR"], f"{a.workload}-seed{a.seed}.jsonl")
        tracer.write(trace_path)
        result["trace_file"] = os.path.relpath(trace_path)
    with open(os.path.join(run_dir, "result.json"), "w") as fh:
        json.dump(result, fh)
    spark.stop()
    return 0


PER_LAYER = (
    "session.start_s", "plans.build_s", "plans.build_jobs", "plans.exec_s", "plans.jobs",
    "plans.stages", "plans.tasks", "plans.exchanges", "plans.shuffle_mb", "plans.result_rows",
    "plans.spill_mb", "operators.python_s", "operators.python_boot_s", "operators.python_mb",
    "sources.files_read", "sources.read_mb", "sources.lake_files", "etl.run_s", "etl.jobs",
    "etl.rows_written", "etl.kept_ratio", "report.metrics_s", "report.render_s",
    "report.dashboard_s", "report.jobs", "streaming.drain_s", "streaming.compact_s",
    "streaming.jobs", "streaming.segments", "streaming.state_mb", "cache.frames_left",
    "jvm.gc_s", "jvm.gc_count", "env.steal_s", "trace.overhead_s", "trace.wall_s",
)

# op name prefix -> the layer metric its latency adds to
_OP_TIME = {
    "etl.run_pipeline": "etl.run_s",
    "report.daily_metrics": "report.metrics_s",
    "report.render_html": "report.render_s",
    "report.dashboard": "report.dashboard_s",
    "streaming.drain": "streaming.drain_s",
    "streaming.compact": "streaming.compact_s",
}


def per_layer(tracer: Tracer, gauges: dict, session_start_s: float, wall: float,
              steal: float, gc0: tuple[int, float], gc1: tuple[int, float]) -> dict[str, float]:
    m = dict.fromkeys(PER_LAYER, 0.0)
    landed = 0
    for r in tracer.ops:
        m["sources.files_read"] += r["files_read"]
        m["sources.read_mb"] += r["read_mb"]
        m["plans.spill_mb"] += r["spill_mb"]
        m["cache.frames_left"] += r["frames_left"]
        if r["layer"] == "plans":
            m["plans.build_s"] += r.get("plans.build_s", 0.0)
            m["plans.build_jobs"] += r.get("plans.build_jobs", 0)
            m["plans.exec_s"] += r.get("plans.exec_s", 0.0)
            for k in ("jobs", "stages", "tasks", "exchanges", "shuffle_mb"):
                m[f"plans.{k}"] += r[k]
            m["plans.result_rows"] += r.get("result_rows", 0)
            m["operators.python_s"] += r["python_s"]
            m["operators.python_boot_s"] += r["python_boot_s"]
            m["operators.python_mb"] += r["python_mb"]
            continue
        m[f"{r['layer']}.jobs"] += r["jobs"]
        for prefix, key in _OP_TIME.items():
            if r["name"].startswith(prefix):
                m[key] += r["latency_s"]
        if r["name"] == "etl.run_pipeline":
            m["etl.rows_written"] += r.get("rows_written", 0)
            landed += r.get("rows_landed", 0)
    m["etl.kept_ratio"] = m["etl.rows_written"] / landed if landed else 0.0
    m.update(gauges)
    m["session.start_s"] = session_start_s
    m["jvm.gc_count"] = gc1[0] - gc0[0]
    m["jvm.gc_s"] = gc1[1] - gc0[1]
    m["env.steal_s"] = steal
    m["trace.overhead_s"] = tracer.cost_s
    m["trace.wall_s"] = wall
    return m


def counts_repeat(ops: list[dict]) -> bool:
    """Hermeticity: every pass must launch the same jobs, stages, tasks
    and exchanges for the same op."""
    seen: dict[tuple, tuple] = {}
    for r in ops:
        # queries repeat by name in a shuffled order; ingest ops by position
        key = (r["name"], None if r["layer"] == "plans" else r["step"])
        sig = (r["jobs"], r["stages"], r["tasks"], r["exchanges"])
        if seen.setdefault(key, sig) != sig:
            return False
    return True


if __name__ == "__main__":
    sys.exit(main())
