"""Counters read in-process: the process tree from ``/proc`` and Spark's
status stores through the live session.

Nothing here runs inside a timed region. ``ProcTree`` is read at the
edges of a measured window; the Spark
readers run after the timer stops and only look at the jobs, stages
and SQL executions with ids above a watermark taken before the work.
"""

from __future__ import annotations

import os
import re

from py4j.protocol import Py4JJavaError

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, utime+stime+cutime+cstime seconds) of one live process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / _TICK


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class ProcTree:
    """This process and all its descendants (the JVM and the Python
    workers it forks). CPU includes children already reaped, through
    each live parent's cutime/cstime."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def pids(self) -> list[int]:
        parent: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    parent[int(name)] = st[0]
        tree, frontier = [self.root], [self.root]
        while frontier:
            frontier = [p for p, pp in parent.items() if pp in frontier]
            tree.extend(frontier)
        return tree

    def cpu_s(self) -> float:
        return sum(st[1] for p in self.pids() if (st := _stat(p)) is not None)

    def python_worker_cpu_s(self) -> float:
        """CPU of the Spark Python workers (``pyspark.daemon`` and its
        forks), which JVM executor CPU time does not include."""
        return sum(
            st[1]
            for p in self.pids()
            if "pyspark.daemon" in _cmdline(p) and (st := _stat(p)) is not None
        )

    def peak_rss_bytes(self) -> dict[str, int]:
        """Peak resident size (VmHWM) per live process, keyed by pid and
        program name: the kernel keeps each peak, so nothing samples
        during the work."""
        out = {}
        for p in self.pids():
            try:
                with open(f"/proc/{p}/status") as f:
                    kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
            except (OSError, StopIteration):
                continue
            out[f"{p}:{(_cmdline(p).split() or ['?'])[0].rsplit('/', 1)[-1]}"] = kb * 1024
        return out


# ---------------------------------------------------------------- Spark

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
}
_VALUE = re.compile(r"^\s*([-\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric value ('1,000', '2.1 KiB', '10.3 s', or
    the 'total (min, med, max ...)' form) as bytes / seconds / count."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkCounters:
    """Reads stage, job and SQL-operator counters of the work done since
    the last ``mark()`` from the session's status stores (no UI, no REST).
    Job, stage and SQL execution ids only grow, so everything above the
    watermark belongs to the work done since."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._jvm, self._gw = sc._jvm, sc._gateway
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.mark()

    def _jobs(self) -> list[int]:
        # jobs outside any job group: every job the benchmark launches
        return self._tracker.getJobIdsForGroup(None)

    def _max_exec(self) -> int:
        # the store lists executions in id order
        n = self._sql.executionsCount()
        return self._sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    def mark(self) -> None:
        """Watermark: later reads only count work with higher ids."""
        self.job_mark = max(self._jobs(), default=-1)
        self.exec_mark = self._max_exec()

    def read(self) -> dict[str, float]:
        """Totals over the jobs, the stages they ran and the SQL
        executions since ``mark``; then moves the watermark past them.
        Stages a job skipped (their shuffle output was reused) count
        nothing."""
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_cpu_s", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes", "peak_exec_mem_bytes", "python_udf_s"), 0.0)
        jobs = sorted(j for j in self._jobs() if j > self.job_mark)
        stage_ids = set()
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        empty = self._jvm.java.util.ArrayList()
        quantiles = self._gw.new_array(self._jvm.double, 0)
        for sid in sorted(stage_ids):
            try:
                attempts = self._store.stageData(sid, False, empty, False, quantiles)
            except Py4JJavaError:  # stage evicted from the store
                continue
            for a in range(attempts.size()):
                s = attempts.apply(a)
                if str(s.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                out["executor_cpu_s"] += s.executorCpuTime() / 1e9
                out["shuffle_read_bytes"] += s.shuffleReadBytes()
                out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                out["spill_bytes"] += s.diskBytesSpilled() + s.memoryBytesSpilled()
                out["peak_exec_mem_bytes"] = max(out["peak_exec_mem_bytes"], s.peakExecutionMemory())
        out["jobs"] = len(jobs)
        new_exec = self._max_exec()
        for eid in range(self.exec_mark + 1, new_exec + 1):
            out["python_udf_s"] += self._python_udf_s(eid)
        self.job_mark = max([self.job_mark, *jobs])
        self.exec_mark = new_exec
        return out

    def _python_udf_s(self, execution_id: int) -> float:
        """Task-summed 'time to run Python workers' of one SQL execution."""
        try:
            graph = self._sql.planGraph(execution_id)
        except Py4JJavaError:  # execution evicted from the store
            return 0.0
        values = self._sql.executionMetrics(execution_id)
        nodes = graph.allNodes()
        total = 0.0
        for i in range(nodes.size()):
            metrics = nodes.apply(i).metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                if m.name() == "time to run Python workers":
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        total += parse_metric(v.get())
        return total


def catalyst_phases(df) -> dict[str, float]:
    """Seconds spent in analysis, optimization and planning for ``df``'s
    own query execution (forces its physical plan if not yet built)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out
