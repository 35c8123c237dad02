"""Measurement plumbing: spans around layer calls, Spark engine counters
read from the driver's status stores, process-tree peak RSS and host
context from /proc.

Spans are kept in memory and summarized when the run ends.  Nothing
here reaches into the program: every number is read from the outside
(wall clocks around public calls, Spark's own status stores, /proc).
"""

from __future__ import annotations

import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Named spans kept in memory; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, float, float]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.perf_counter()))

    def durations_ms(self, name: str) -> list[float]:
        return [(e - s) * 1000.0 for n, s, e in self.spans if n == name]


def materialize(df) -> None:
    """Force a layer's output through a ``noop`` write: runs the full
    plan, discards rows, keeps the caller's lazy plan untouched."""
    df.write.format("noop").mode("overwrite").save()


# -- Spark status stores ---------------------------------------------------

class SparkCounters:
    """Cumulative engine counters from AppStatusStore (stages) and the
    SQL status store (per-operator SQL metrics).  ``snapshot()`` returns
    totals; subtract two snapshots to attribute work to a span."""

    def __init__(self, spark):
        self.spark = spark
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = spark.sparkContext._gateway
        self._empty_list = gw.jvm.java.util.ArrayList
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def _drain(self) -> None:
        # the status stores are fed by the asynchronous listener bus: wait
        # until it has delivered every event of the jobs already finished
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def snapshot(self) -> dict[str, float]:
        self._drain()
        stages = self._store.stageList(
            self._empty_list(), False, False, self._no_quantiles, self._empty_list()
        )
        tot = defaultdict(float)
        for i in range(stages.size()):
            s = stages.apply(i)
            tot["tasks"] += s.numCompleteTasks()
            tot["shuffle_bytes"] += s.shuffleWriteBytes()
            tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            tot["gc_ms"] += s.jvmGcTime()
            tot["run_ms"] += s.executorRunTime()
        tot["jobs"] = float(self._store.jobsList(self._empty_list()).size())
        return dict(tot)

    def last_execution_id(self) -> int:
        ex = self._sql.executionsList()
        n = ex.size()
        return ex.apply(n - 1).executionId() if n else -1

    def sql_metric_totals(self, after_id: int, names: tuple[str, ...]) -> dict[str, float]:
        """Sum the named SQL metrics (parsed to seconds / bytes / counts)
        over SQL executions newer than ``after_id``."""
        out = {n: 0.0 for n in names}
        self._drain()
        ex = self._sql.executionsList()
        for i in range(ex.size()):
            e = ex.apply(i)
            if e.executionId() <= after_id:
                continue
            vals = self._sql.executionMetrics(e.executionId())
            it = e.metrics().iterator()
            while it.hasNext():
                m = it.next()
                if m.name() not in out:
                    continue
                v = vals.get(m.accumulatorId())
                if v.isDefined():
                    out[m.name()] += parse_metric(v.get())
        return out


_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
    "TiB": 1024.0 ** 4,
}
_METRIC_RE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric ("11.5 s (2.7 s, ...)" → 11.5;
    "1.6 MiB (...)" → bytes; "1,234" → 1234), with or without the
    "total (min, med, max ...)" header line Spark puts first."""
    if text.startswith("total") and "\n" in text:
        # multi-task form: a "total (min, med, max ...)" header line first
        text = text.split("\n", 1)[1]
    m = _METRIC_RE.match(text)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2), 1.0)


# -- /proc -----------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids[ppid].append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_peak_rss_bytes(root: int) -> dict[str, int]:
    """Each process's peak resident set (VmHWM, kept by the kernel, so no
    sampling interval can miss a spike) over ``root``'s process tree,
    summed per command name.  Read it while the processes are alive."""
    out: dict[str, int] = defaultdict(int)
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[fields["Name"].strip()] += int(fields["VmHWM"].split()[0]) * 1024
    return dict(out)


def cpu_times() -> tuple[list[int], dict[int, int]]:
    """(/proc/stat cpu line jiffies, {pid: utime+stime} of our tree)."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    ours = {}
    for pid in process_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                s = f.read()
            fields = s[s.rfind(")") + 2 :].split()
            ours[pid] = int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            continue
    return cpu, ours


def host_context(start, end, ncpu: int) -> dict[str, float]:
    """Steal share and busy cores not ours over [start, end] — context
    for reading a run, never used to drop or re-pick runs."""
    (c0, o0), (c1, o1) = start, end
    d = [b - a for a, b in zip(c0, c1)]
    total = sum(d[:8]) or 1
    idle = d[3] + d[4]
    steal = d[7] if len(d) > 7 else 0
    busy_cores = (total - idle - steal) / total * ncpu
    # processes of ours that ended in between are not counted
    ours = sum(o1[p] - o0.get(p, 0) for p in o1)
    ours_cores = ours / (total / ncpu) if total else 0.0
    return {
        "steal_share": round(steal / total, 4),
        "cotenant_busy_cores": round(max(0.0, busy_cores - ours_cores), 2),
        "our_busy_cores": round(ours_cores, 2),
    }
