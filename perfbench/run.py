"""Benchmark entry point: one workload, one seed, one fresh engine process.

    python3 perfbench/run.py --workload {curation,ingest} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. Each run gets its own directory under
``.perfbench/`` holding a fresh TMPDIR (so the reader's µs copy of the
events table is rebuilt inside set-up every run), fresh Spark local,
warehouse and JVM temp dirs, and the generated inputs; it is removed when
the run ends. Traced runs leave their spans in ``.perfbench/traces/``.
The engine runs on ``local[nproc]`` with a 4 GiB driver heap and the
repository on PYTHONPATH (Python workers import the package).

Prints the settings and the run's details as JSON lines, then, as the
last line, ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ENGINE = "serverless_etl_reporting_pipeline_spark"
WORKLOADS = ("curation", "ingest")
DRIVER_HEAP = "4g"
TIMEOUT_S = 170

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "op_p50_s": "s",
             "op_tail_s": "s", "live_heap_mb": "MiB", "stored_mb": "MiB"}


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever the engine process left in its process group (the
    JVM, Python daemons) and wait until all of it is gone. Polling reaps
    the group leader, whose zombie would otherwise keep the group alive."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.time() + 5
        try:
            os.killpg(proc.pid, sig)
            while time.time() < deadline:
                proc.poll()
                os.killpg(proc.pid, 0)
                time.sleep(0.05)
        except ProcessLookupError:
            return


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in (os.path.join(ENGINE, "session.py"), os.path.join("tools", "oracle_check.py")):
        if not os.path.isfile(os.path.join(root, need)):
            print(f"perfbench: {need} not found; run from the repository root", file=sys.stderr)
            return 2

    run_dir = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    trace_dir = os.path.join(root, ".perfbench", "traces")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d))
    os.makedirs(trace_dir, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    settings = {
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_HEAP,
        "PYTHONPATH": os.pathsep.join([root] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "PYSPARK_PYTHON": sys.executable,
        # every JVM of the run (the launcher and the driver) keeps its temp
        # files in the run dir; no hsperfdata files under /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "PERFBENCH_TRACE_DIR": trace_dir,
    }
    env = dict(os.environ, **settings, PERFBENCH_T0=repr(time.time()))
    env.pop("OMP_NUM_THREADS", None)
    print(json.dumps({"settings": {**settings, "master": f"local[{nproc}]", "workload": a.workload,
                                   "seed": a.seed, "seconds": a.seconds, "trace": a.trace}}))
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--run-dir", run_dir]
    # a TERM to this process must still stop the engine's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr, start_new_session=True)
    code, result = None, None
    try:
        code = proc.wait(timeout=TIMEOUT_S)
        result_path = os.path.join(run_dir, "result.json")
        if code == 0 and os.path.exists(result_path):
            with open(result_path) as fh:
                result = json.load(fh)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
    finally:
        _stop_group(proc)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        print(f"perfbench: engine process failed (exit {code})", file=sys.stderr)
        return 1

    details = {k: v for k, v in result.items() if k not in ("end_to_end", "per_layer")}
    details["end_to_end"] = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in result["end_to_end"].items()}
    print(json.dumps(details))
    if a.trace:
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in result["per_layer"].items()}
    else:
        metrics = details["end_to_end"]
    print(json.dumps({
        "correct": result["ops_failed"] == 0,
        "attempted": result["ops"],
        "failed": result["ops_failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
