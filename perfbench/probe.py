"""Measurements taken from outside the engine.

- ``tree_cpu``: CPU-seconds of a process tree from ``/proc`` (utime +
  stime + cutime + cstime over the root and its live descendants). The
  driver, the JVM it launched, and the JVM's Python daemon and workers
  all sit in one tree, so this is what the run costs the machine. A
  child's time moves into its parent's cutime when it is reaped, so the
  sum stays continuous as Python workers come and go.
- ``steal_s``: host steal time from ``/proc/stat`` (all CPUs).
- ``JvmProbe``: heap after GC, GC MXBean totals, the DAG scheduler's job
  counter, per-stage task metrics from the status store, persisted RDDs,
  and the SQL metrics of an executed plan (AQE final plan walk).
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")
MB = 1024.0 * 1024.0
# what JvmProbe.plan_metrics sums over a plan's operators
PLAN_METRICS = ("exchanges", "files_read", "python_s", "python_boot_s", "python_mb")


def _proc_stats() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, comm, utime+stime, cutime+cstime) in clock ticks."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                raw = fh.read().decode("ascii", "replace")
        except OSError:  # exited between listdir and open
            continue
        comm = raw[raw.index("(") + 1: raw.rindex(")")]
        f = raw[raw.rindex(")") + 2:].split()
        out[int(name)] = (int(f[1]), comm, int(f[11]) + int(f[12]), int(f[13]) + int(f[14]))
    return out


def tree_cpu(root: int) -> dict[str, float]:
    """CPU-seconds of ``root``'s process tree, split into the root
    (``driver``), the JVM's own threads (``jvm``), everything below the
    JVM (``python_workers``: the PySpark daemon and its workers), and
    the ``total``."""
    stats = _proc_stats()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    split = {"driver": 0.0, "jvm": 0.0, "python_workers": 0.0}

    def walk(pid: int, under_jvm: bool) -> None:
        _, comm, own, reaped = stats[pid]
        if pid == root:
            split["driver"] += own + reaped
        elif under_jvm:
            split["python_workers"] += own + reaped
        elif comm == "java":
            split["jvm"] += own
            split["python_workers"] += reaped
            under_jvm = True
        else:
            split["driver"] += own + reaped
        for k in kids.get(pid, ()):
            walk(k, under_jvm)

    if root in stats:
        walk(root, False)
    out = {k: v / CLK_TCK for k, v in split.items()}
    out["total"] = sum(out.values())
    return out


def steal_s() -> float:
    """Cumulative steal time of all CPUs, seconds."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / CLK_TCK if len(fields) > 8 else 0.0


def dir_stats(path: str) -> tuple[float, int]:
    """(MiB on disk, data files) under ``path``; Spark's ``.crc`` and
    ``_SUCCESS`` markers count toward bytes, not files."""
    total, files = 0, 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(dirpath, n))
            except OSError:
                continue
            if not n.startswith((".", "_")):
                files += 1
    return total / MB, files


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class JvmProbe:
    """py4j reads of the driver JVM's own counters."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext._jsc.sc()
        self.jvm = spark.sparkContext._jvm
        self._mf = self.jvm.java.lang.management.ManagementFactory

    def heap_after_gc_mb(self) -> float:
        """Heap in use after caches are cleared and the heap is collected
        until it stops shrinking. Python's collector runs first: a
        DataFrame kept alive by a Python reference cycle pins its JVM plan
        through py4j. The ContextCleaner frees broadcasts and shuffles of
        collected objects asynchronously, so one collection is not enough."""
        import gc
        import time

        self.spark.catalog.clearCache()
        used = float("inf")
        for _ in range(8):
            gc.collect()
            self.jvm.System.gc()
            now = self._mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / MB
            if now > used * 0.99:
                return min(now, used)
            used = now
            time.sleep(0.5)
        return used

    def gc_totals(self) -> tuple[int, float]:
        """(collections, seconds) summed over every GC MXBean."""
        n, ms = 0, 0
        for b in self._mf.getGarbageCollectorMXBeans():
            n += max(0, b.getCollectionCount())
            ms += max(0, b.getCollectionTime())
        return n, ms / 1000.0

    def jobs_started(self) -> int:
        """Jobs submitted so far; job ids are dense, so an op's jobs are
        the ids between two readings (closed loop, one client)."""
        return self.sc.dagScheduler().numTotalJobs()

    def job_stats(self, first: int, end: int) -> dict[str, float]:
        """Completed stages and tasks, shuffle writes, spill and input
        bytes of jobs ``first..end-1``, from the status store (waits for
        the listener bus first, so the counts are final)."""
        self.sc.listenerBus().waitUntilEmpty()
        store = self.sc.statusStore()
        out = {"jobs": end - first, "stages": 0, "tasks": 0,
               "shuffle_mb": 0.0, "spill_mb": 0.0, "read_mb": 0.0}
        seen = set()
        for jid in range(first, end):
            for sid in _seq(store.job(jid).stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["shuffle_mb"] += st.shuffleWriteBytes() / MB
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
                out["read_mb"] += st.inputBytes() / MB
        return out

    def persisted_rdds(self) -> int:
        return self.sc.getPersistentRDDs().size()

    def plan_metrics(self, df) -> dict[str, float]:
        """Walk the executed (AQE final) plan of an already-collected
        DataFrame and sum its per-operator SQL metrics."""
        plan = df._jdf.queryExecution().executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.finalPhysicalPlan()
        out = dict.fromkeys(PLAN_METRICS, 0)
        stack = [plan]
        while stack:
            node = stack.pop()
            name = node.nodeName()
            if name.startswith("Reused"):
                continue  # its metrics belong to the exchange it reuses
            if name == "Exchange":
                out["exchanges"] += 1
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                key, val = kv._1(), kv._2().value()
                if key == "numFiles":
                    out["files_read"] += val
                elif key == "pythonTotalTime":  # ms
                    out["python_s"] += val / 1000.0
                elif key == "pythonBootTime":
                    out["python_boot_s"] += val / 1000.0
                elif key in ("pythonDataSent", "pythonDataReceived"):
                    out["python_mb"] += val / MB
            if "QueryStage" in name:
                stack.append(node.plan())
            else:
                stack.extend(_seq(node.children()))
        return out
