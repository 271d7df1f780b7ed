"""Measurement probes: the benchmark's process tree, the host, and
Spark's own status stores.

Nothing here changes what Spark does. The process-tree probe reads
``/proc``; the Spark probe reads the application status store (jobs,
stages), the SQL status store (per-node metrics such as the Python
worker times of ``MapInPandas``) and the block manager's RDD storage
list, all of which populate with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import os
import re
import threading
from collections import defaultdict

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids[ppid].append(int(d))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all of its descendants."""
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2 :].split()


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """User+system CPU seconds of the tree, reaped children included."""
    total = 0
    for p in pids if pids is not None else tree_pids():
        f = _stat_fields(p)
        if f:
            # utime, stime, cutime, cstime are fields 14-17 (1-based)
            total += sum(int(x) for x in f[11:15])
    return total / _CLK


def tree_rss_bytes(pids: list[int]) -> int:
    total = 0
    for p in pids:
        f = _stat_fields(p)
        if f:
            total += int(f[21]) * _PAGE  # rss, field 24
    return total


def host_busy_s() -> float:
    """CPU seconds the whole host spent busy since boot (all cores)."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    idle = vals[3] + vals[4]  # idle + iowait
    return (sum(vals[:8]) - idle) / _CLK


class TreeSampler:
    """Background sampler of the process tree's RSS high-water mark."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_rss = max(self.peak_rss, tree_rss_bytes(tree_pids()))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# --- Spark status stores -------------------------------------------------

_UNIT_MS = {"ms": 1.0, "s": 1000.0, "min": 60_000.0, "h": 3_600_000.0}
_PY_METRICS = {
    "time to run Python workers": "python_ms",
    "time to start Python workers": "python_start_ms",
    "time to initialize Python workers": "python_init_ms",
}


def _metric_ms(text: str) -> float:
    """Spark renders a timing SQL metric as ``"848 ms"`` or as
    ``"total (min, med, max ...)\\n1.3 s (...)"``; return the total."""
    line = text.split("\n")[1] if text.startswith("total") else text
    m = re.match(r"\s*([\d.,]+)\s*(ms|s|min|h)\b", line)
    return float(m.group(1).replace(",", "")) * _UNIT_MS[m.group(2)] if m else 0.0


class SparkProbe:
    """Reads per-job, per-stage and per-SQL-node counters by job group."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _list(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def jobs(self, groups: set[str]) -> dict[str, list[dict]]:
        """Finished jobs whose job group is in ``groups``, by group."""
        out: dict[str, list[dict]] = defaultdict(list)
        for j in self._list(self._store.jobsList(None)):
            g = j.jobGroup()
            if not g.isDefined() or g.get() not in groups:
                continue
            sub, end = j.submissionTime(), j.completionTime()
            desc = j.description()
            out[g.get()].append(
                {
                    "id": j.jobId(),
                    "start": sub.get().getTime() / 1000 if sub.isDefined() else None,
                    "end": end.get().getTime() / 1000 if end.isDefined() else None,
                    "stages": [int(s) for s in self._list(j.stageIds())],
                    "desc": desc.get() if desc.isDefined() else "",
                }
            )
        return out

    def stages(self) -> dict[int, dict]:
        quant = self._gw.new_array(self._jvm.double, 0)
        out = {}
        for s in self._list(self._store.stageList(None, False, False, quant, None)):
            out[s.stageId()] = {
                "tasks": s.numCompleteTasks(),
                "exec_run_ms": s.executorRunTime(),
                "exec_cpu_ms": s.executorCpuTime() / 1e6,
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            }
        return out

    def python_metrics(self, job_ids: set[int]) -> dict[str, float]:
        """Python worker times of the SQL executions that ran ``job_ids``."""
        out = dict.fromkeys(_PY_METRICS.values(), 0.0)
        for e in self._list(self._sql.executionsList()):
            jobs = {int(k) for k in self._list(e.jobs().keys())}
            if not jobs & job_ids:
                continue
            values = self._sql.executionMetrics(e.executionId())
            seen = set()
            for m in self._list(e.metrics()):
                name = _PY_METRICS.get(m.name())
                if name is None or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out[name] += _metric_ms(v.get())
        return out

    def storage_bytes(self) -> int:
        """Memory plus disk bytes of every persisted RDD."""
        return sum(
            r.memSize() + r.diskSize()
            for r in self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        )


def busy_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
