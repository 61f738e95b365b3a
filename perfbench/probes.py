"""Measurement probes: process-tree CPU and RSS from /proc, Spark job and
stage counters from the Spark status store, JVM GC/JIT time from the
management beans, and the percentile rule the benchmark reports by.

Nothing here changes the program being measured: every probe reads state
the engine already keeps (the kernel's process accounting, Spark's
scheduler and status store, the JVM's MXBeans) over /proc or py4j.
"""

from __future__ import annotations

import math
import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


# --------------------------------------------------------------------------
# process tree: this Python driver, the JVM it launched, the Python workers
# --------------------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name sits in parentheses and may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat_fields(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    st = _stat_fields(pid)
    return st is not None and st[0] != "Z"


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, including reaped children
    (a Python worker that exited is folded into its parent's cutime)."""
    ticks = 0
    for pid in tree_pids(root):
        st = _stat_fields(pid)
        if st is not None:
            ticks += sum(int(x) for x in st[11:15])
    return ticks / CLK_TCK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssPeak:
    """Background sampler of the tree's summed RSS; ``peak`` is the max."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root, self.interval_s, self.peak = root, interval_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssPeak":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(self.root))


def host_cpu() -> list[int]:
    """Host-wide jiffies: user, nice, system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two reads."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) > 0 else 0.0


def machine_mem_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


# --------------------------------------------------------------------------
# Spark scheduler and status store
# --------------------------------------------------------------------------

# Python UDF / MapInPandas SQL metrics (PythonSQLMetrics) by plan-graph
# name: timings in ms and sizes in bytes
PYTHON_METRICS = {
    "time to run Python workers": "python_run_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to start Python workers": "python_boot_ms",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}
_UNITS = {
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric ("451 ms", "98.0 KiB", or the
    multi-task "total (min, med, max ...)\n1.2 s (...)" form), in ms or B."""
    line = text.strip().splitlines()[-1] if "\n" in text.strip() else text.strip()
    num, unit = line.split("(")[0].split()[:2]
    return float(num.replace(",", "")) * _UNITS[unit]


class SparkProbe:
    """Counters read over py4j.

    Jobs and stages are counted by the rise of the highest job and stage id,
    never by the size of the status store's job list: that list is trimmed
    at ``spark.ui.retainedJobs``, so list-size deltas go negative in a long
    session.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._dag = sc._jsc.sc().dagScheduler()
        self._store = sc._jsc.sc().statusStore()
        self._no_status = self._jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(self._jvm.double, 0)
        mf = self._jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mf.getGarbageCollectorMXBeans())
        self._jit_bean = mf.getCompilationMXBean()
        self._cache = spark._jsparkSession.sharedState().cacheManager()
        self.max_stage = -1
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._accs = self._jvm.org.apache.spark.util.AccumulatorContext
        self.max_execution = self._last_execution()

    def next_job(self) -> int:
        """The scheduler's next job id (jobs ever submitted)."""
        return self._dag.numTotalJobs()

    def jobs(self, first: int, end: int) -> tuple[list[tuple[float, float]], list[int]]:
        """Jobs [first, end): their submit-to-complete wall intervals (epoch
        s) and the new stage ids they created, i.e. ids above the highest
        seen so far (stage ids only rise, so their rise counts new stages)."""
        intervals, stages = [], set()
        for jid in range(first, end):
            try:
                job = self._store.job(jid)
            except Exception:  # evicted from the store: nothing known
                continue
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            ids = job.stageIds()
            stages.update(ids.apply(i) for i in range(ids.size()))
        new = sorted(s for s in stages if s > self.max_stage)
        if new:
            self.max_stage = new[-1]
        return intervals, new

    def jvm_ms(self) -> tuple[int, int]:
        """(cumulative GC ms, cumulative JIT compilation ms)."""
        gc = sum(b.getCollectionTime() for b in self._gc_beans)
        return gc, self._jit_bean.getTotalCompilationTime()

    def cache_entries(self) -> int:
        return self._cache.cachedData().size()

    def mark(self) -> None:
        """Count only stages and SQL executions created from now on."""
        self.max_execution = self._last_execution()
        last = self.next_job() - 1
        if last >= 0:
            ids = self._store.job(last).stageIds()
            self.max_stage = max([self.max_stage, *(ids.apply(i) for i in range(ids.size()))])

    def _last_execution(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return self._sql.executionsList(n - 1, 1).apply(0).executionId()

    def python_totals(self) -> dict[str, float]:
        """PythonSQLMetrics summed over SQL executions that started since the
        last call (raw accumulator values; the formatted store string when
        the accumulator has been garbage-collected)."""
        tot = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        n = self._sql.executionsCount()
        recent = self._sql.executionsList(max(0, n - 64), min(n, 64))
        new = [
            e.executionId()
            for e in (recent.apply(i) for i in range(recent.size()))
            if e.executionId() > self.max_execution
        ]
        for eid in new:
            values = None
            nodes = self._sql.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                metrics = nodes.apply(i).metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    key = PYTHON_METRICS.get(m.name())
                    if key is None:
                        continue
                    acc = self._accs.get(m.accumulatorId())
                    if acc.isDefined():
                        tot[key] += float(acc.get().value())
                    else:
                        if values is None:
                            values = self._sql.executionMetrics(eid)
                        text = values.get(m.accumulatorId())
                        if text.isDefined():
                            tot[key] += parse_metric(text.get())
        if new:
            self.max_execution = max(new)
        return tot

    def stage_totals(self, stage_ids: list[int]) -> dict[str, float]:
        """Task, shuffle and spill totals of the stages (every attempt of
        each; skipped stages contribute nothing)."""
        tot = dict.fromkeys(
            [
                "tasks",
                "task_run_ms",
                "task_cpu_ms",
                "shuffle_read_bytes",
                "shuffle_write_bytes",
                "spill_bytes",
            ],
            0.0,
        )
        for sid in stage_ids:
            try:
                attempts = self._store.stageData(
                    sid, False, self._no_status, False, self._no_quantiles
                )
            except Exception:  # never submitted (skipped) or evicted
                continue
            for i in range(attempts.size()):
                s = attempts.apply(i)
                tot["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                tot["task_run_ms"] += s.executorRunTime()
                tot["task_cpu_ms"] += s.executorCpuTime() / 1e6
                tot["shuffle_read_bytes"] += s.shuffleReadBytes()
                tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
                tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return tot


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    covered, end = 0.0, lo
    for a, b in spans:
        if b > end:
            covered += b - max(a, end)
            end = b
    return covered


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------

MIN_BEYOND = 10  # samples that must lie beyond a reported percentile


def percentile(values: list[float], q: float) -> tuple[float, int] | None:
    """Nearest-rank ``q`` percentile with the number of samples strictly
    beyond its rank, or None when fewer than MIN_BEYOND lie beyond it."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(q / 100.0 * n))
    if n - rank < MIN_BEYOND:
        return None
    return sorted(values)[rank - 1], n - rank


class timed:
    """``with timed(row, "x_ms"):`` adds the block's wall ms to row["x_ms"]."""

    def __init__(self, row: dict[str, float] | None, key: str):
        self.row, self.key = row, key

    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        if self.row is not None:
            ms = (time.perf_counter() - self.t0) * 1e3
            self.row[self.key] = self.row.get(self.key, 0.0) + ms
