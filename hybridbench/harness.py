"""Measurement plumbing shared by the workloads: host readings from
``/proc``, Spark status-store counters, and the span tracer.

Nothing here starts a thread or touches Spark at import time.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- host ---------------------------------------------------------------------

def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    return fields[7], sum(fields[:8])


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _proc_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int, exclude: set[int]) -> list[int]:
    """``root`` and its descendants, minus the subtrees rooted at
    ``exclude`` (the store process)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _proc_stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int, exclude: set[int]) -> float:
    """User+system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in process_tree(root, exclude):
        st = _proc_stat(pid)
        if st is not None:
            # fields 14-17 of stat (1-based): utime stime cutime cstime
            ticks += sum(int(x) for x in st[11:15])
    return ticks / CLK_TCK


def tree_peak_rss_mb(root: int, exclude: set[int]) -> float:
    """Sum of each live process's peak resident set (VmHWM), in MiB."""
    kb = 0
    for pid in process_tree(root, exclude):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def calib_s(n: int = 2_000_000) -> float:
    """Seconds a fixed pure-Python loop takes: a reading of how fast this
    host runs right now, to tell host drift from a program change."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i & 7
    return time.perf_counter() - t0


class HostWindow:
    """Steal share, load and tree CPU over one measured window.

    Work of the benchmark's own inside the window (landing inputs,
    checking answers) runs under ``excluded()``: its wall and tree-CPU
    seconds are summed apart, so the window's figures can leave it out.
    """

    def __init__(self, root: int, exclude: set[int]):
        self.root, self.exclude = root, exclude
        self.excluded_wall_s = self.excluded_cpu_s = 0.0

    @contextmanager
    def excluded(self):
        t0 = time.perf_counter()
        c0 = tree_cpu_s(self.root, self.exclude)
        try:
            yield
        finally:
            self.excluded_wall_s += time.perf_counter() - t0
            self.excluded_cpu_s += tree_cpu_s(self.root, self.exclude) - c0

    def start(self) -> None:
        self._calib0 = calib_s()
        self._steal0, self._total0 = cpu_ticks()
        self.excluded_wall_s = self.excluded_cpu_s = 0.0
        self._cpu0 = tree_cpu_s(self.root, self.exclude)

    def stop(self) -> dict:
        """Readings since ``start``; ``cpu_s`` leaves out excluded work."""
        steal, total = cpu_ticks()
        d_total = max(total - self._total0, 1)
        cpu_s = tree_cpu_s(self.root, self.exclude) - self._cpu0
        return {
            "steal_pct": 100.0 * (steal - self._steal0) / d_total,
            "loadavg": loadavg(),
            "cpu_s": cpu_s - self.excluded_cpu_s,
            "excluded_wall_s": self.excluded_wall_s,
            "excluded_cpu_s": self.excluded_cpu_s,
            "calib_s": (self._calib0, calib_s()),
        }


# -- Spark status store ----------------------------------------------------------

class SparkCounters:
    """Job, stage, shuffle and GC counters read from the live status store
    and the JVM's GC beans. ``snapshot()`` then ``delta(snap)`` give what
    ran in between."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()

    def _gc_ms(self) -> int:
        beans = self._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(max(int(beans.get(i).getCollectionTime()), 0)
                   for i in range(beans.size()))

    def _jobs(self) -> list:
        seq = self._store.jobsList(None)
        return [seq.apply(i) for i in range(seq.size())]

    def snapshot(self) -> dict:
        from otit_swt_spark.metrics import stage_shuffle_writes

        jobs = self._jobs()
        return {"max_job": max((int(j.jobId()) for j in jobs), default=-1),
                "stages": stage_shuffle_writes(self.spark),
                "gc_ms": self._gc_ms()}

    def delta(self, snap: dict) -> dict:
        from otit_swt_spark.metrics import shuffle_write_delta

        jobs = [j for j in self._jobs() if int(j.jobId()) > snap["max_job"]]
        spans = []
        for j in jobs:
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime(), done.get().getTime()))
        return {
            "jobs": len(jobs),
            # wall time with at least one job running (jobs can overlap)
            "job_s": covered_ms(spans) / 1000.0,
            "stages_done": sum(int(j.numCompletedStages()) for j in jobs),
            "stages_skipped": sum(int(j.numSkippedStages()) for j in jobs),
            "shuffle_write_bytes": shuffle_write_delta(self.spark,
                                                       snap["stages"]),
            "gc_s": (self._gc_ms() - snap["gc_ms"]) / 1000.0,
        }


def covered_ms(spans: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end] intervals."""
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(spans):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


# -- tracing ---------------------------------------------------------------------

class Tracer:
    """Spans around the benchmark's calls into each layer. Disabled, every
    method is a no-op, so the untraced run pays nothing. Enabled, each span
    records (name, op, parent, start, end) plus, for ``spark=True`` spans,
    the Spark counter delta; spans stay in memory until ``write``."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op = None
        self._counters = SparkCounters(spark) if enabled and spark else None

    def begin_op(self, op_id) -> None:
        self._op = op_id

    @contextmanager
    def span(self, name: str, spark: bool = False):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "op": self._op,
               "parent": self._stack[-1] if self._stack else None}
        snap = self._counters.snapshot() if spark and self._counters else None
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if snap is not None:
                rec["spark"] = self._counters.delta(snap)

    def op_spans(self, op_id, name: str) -> list[dict]:
        return [s for s in self.spans
                if s["op"] == op_id and s["name"] == name and "end" in s]

    def op_total(self, op_id, name: str, key: str | None = None) -> float:
        """Summed duration (or summed Spark counter ``key``) of the op's
        spans called ``name``; nested same-name spans count once."""
        total = 0.0
        for s in self.op_spans(op_id, name):
            p = s["parent"]
            nested = False
            while p is not None:
                if self.spans[p]["name"] == name:
                    nested = True
                    break
                p = self.spans[p]["parent"]
            if nested:
                continue
            if key is None:
                total += s["end"] - s["start"]
            else:
                total += s.get("spark", {}).get(key, 0)
        return total

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, indent=None))


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
