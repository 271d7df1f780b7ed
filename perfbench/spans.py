"""Spans around the benchmark's calls into the package, the counters
read at the same boundaries, and the "where the time went" renderer.

A span has a name, start, end, parent and run id. A *unit* span (one
DAG pass, one curation pass, one feed delivery) parents its *step*
spans (one DAG job, one registry call, one decode or micro-batch).
Each step runs under its own Spark job group, so after the unit the
status stores give the step's jobs, stages, tasks, executor times,
shuffle and spill bytes, and Python worker times. Spans stay in memory
and are written out when the run ends.

Per step: ``spark_s`` is the union of its Spark jobs' run intervals and
``driver_s = wall_s - spark_s``: catalog resolution, query
construction (including eager persist or checkpoint jobs' planning),
driver-side collects and JSON writes.

Render a written trace with ``python3 perfbench/spans.py <trace.json>``.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import sys
import time

from probes import SparkProbe, busy_seconds

STEP_COUNTERS = (
    "driver_s", "spark_s", "jobs", "stages", "tasks",
    "exec_run_ms", "exec_cpu_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes",
)


class Tracer:
    """Records spans and per-step counters for the units it traces:
    with ``enabled``, the cold unit and the even steady units. The odd
    steady units run untraced around them, so one run also gives the
    tracing overhead. For any other unit every hook is a no-op and no
    job group is set."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.units: list[dict] = []
        self._pending: list[dict] = []
        self._probe = SparkProbe(spark) if enabled else None

    def traces(self, unit: int) -> bool:
        return self.enabled and unit % 2 == 0

    # -- spans -------------------------------------------------------------
    def _span(self, name, start, end, parent, **extra) -> dict:
        span = {
            "name": name, "start": start, "end": end, "parent": parent,
            "run_id": self.run_id, **extra,
        }
        self.spans.append(span)
        return span

    @contextlib.contextmanager
    def step(self, unit: int, name: str):
        """Span + job group around one call into the package."""
        if not self.traces(unit):
            yield
            return
        sc = self.spark.sparkContext
        group = f"pb-{self.run_id}-{unit}-{name}"
        sc.setJobGroup(group, name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self._pending.append(
                self._span(name, start, end, f"unit-{unit}", unit=unit, group=group)
            )

    def wrap(self, unit: int, name: str, fn):
        """``fn(spark)`` run inside :meth:`step` (for DAG job bodies)."""
        if not self.traces(unit):
            return fn

        def traced(spark):
            with self.step(unit, name):
                return fn(spark)

        return traced

    def external_step(self, unit: int, name: str, start: float, end: float,
                      group: str, batch: int | None = None, **extra) -> None:
        """A step timed by Spark itself (a streaming micro-batch, from
        its progress event); its jobs carry the query's run id as job
        group and ``batch = N`` in their description."""
        if self.traces(unit):
            self._pending.append(
                self._span(name, start, end, f"unit-{unit}", unit=unit,
                           group=group, batch=batch, **extra)
            )

    # -- counters ----------------------------------------------------------
    def close_unit(self, unit: int, kind: str, start: float, end: float,
                   **extra) -> dict:
        """Record the unit span and resolve its steps' Spark counters."""
        traced = self.traces(unit)
        rec = {"unit": unit, "kind": kind, "traced": traced,
               "wall_s": end - start, **extra}
        if traced:
            self._span(f"unit-{unit}", start, end, None, kind=kind)
            rec["steps"] = self._resolve(
                [s for s in self._pending if s["unit"] == unit]
            )
            self._pending = [s for s in self._pending if s["unit"] != unit]
            rec["steps_wall_s"] = sum(s["wall_s"] for s in rec["steps"])
        self.units.append(rec)
        return rec

    def _resolve(self, spans: list[dict]) -> list[dict]:
        jobs = self._probe.jobs({s["group"] for s in spans})
        stages = self._probe.stages()
        steps = []
        for s in spans:
            mine = jobs.get(s["group"], [])
            if s.get("batch") is not None:
                tag = f"batch = {s['batch']}"
                mine = [j for j in mine if tag in j["desc"]]
            lo, hi = s["start"], s["end"]
            spark_s = busy_seconds(
                [(max(lo, j["start"]), min(hi, j["end"])) for j in mine
                 if j["start"] is not None and j["end"] is not None
                 and j["end"] > lo and j["start"] < hi]
            )
            ids = sorted({i for j in mine for i in j["stages"]})
            ran = [stages[i] for i in ids if i in stages and stages[i]["tasks"]]
            row = {
                "step": s["name"], "wall_s": hi - lo, "spark_s": spark_s,
                "driver_s": (hi - lo) - spark_s, "jobs": len(mine),
                "stages": len(ran),
            }
            for k in ("tasks", "exec_run_ms", "exec_cpu_ms",
                      "shuffle_read_bytes", "shuffle_write_bytes",
                      "spill_bytes"):
                row[k] = sum(st[k] for st in ran)
            py = self._probe.python_metrics({j["id"] for j in mine})
            row.update(py)
            row.update({k: v for k, v in s.items() if k.startswith("stream_")})
            steps.append(row)
        return steps

    def storage_bytes(self, unit: int) -> int:
        return self._probe.storage_bytes() if self.traces(unit) else 0

    def dump(self, path: str, **meta) -> dict:
        doc = {**meta, "run_id": self.run_id, "units": self.units,
               "spans": self.spans}
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1, default=float)
        return doc


# --- aggregation and rendering --------------------------------------------

def _median(xs):
    return statistics.median(xs) if xs else 0.0


def traced_units(doc: dict) -> list[dict]:
    """The traced steady units, or the traced cold unit if none."""
    units = [u for u in doc["units"] if u.get("steps")]
    steady = [u for u in units if u["kind"] == "steady"]
    return steady or units


def overhead_pct(doc: dict) -> tuple[float, float, float]:
    """(overhead %, traced wall, untraced wall): each traced steady unit
    against the mean of the untraced units just before and after it,
    which cancels a steady warm-up trend; medians over the traced
    units."""
    walls = {u["unit"]: u["wall_s"] for u in doc["units"]}
    pairs = [
        (u["wall_s"], (walls[u["unit"] - 1] + walls[u["unit"] + 1]) / 2)
        for u in doc["units"]
        if u["kind"] == "steady" and u["traced"] and u["unit"] + 1 in walls
    ]
    if not pairs:
        return 0.0, 0.0, 0.0
    on = _median([a for a, _ in pairs])
    off = _median([b for _, b in pairs])
    return _median([100.0 * (a / b - 1.0) for a, b in pairs]), on, off


def unit_totals(doc: dict) -> dict[str, float]:
    """Median over traced units of the per-unit sum of step counters."""
    units = traced_units(doc)
    out = {}
    for k in STEP_COUNTERS:
        out[k] = _median([sum(s[k] for s in u["steps"]) for u in units])
    out["unit_wall_s"] = _median([u["wall_s"] for u in units])
    for k in ("cache_entries", "cache_storage_bytes", "cache_release_s"):
        out[k] = _median([u.get(k, 0) for u in units])
    return out


def render(doc: dict) -> str:
    units = traced_units(doc)
    names: list[str] = []
    for u in units:
        for s in u["steps"]:
            if s["step"] not in names:
                names.append(s["step"])

    def med(name, key):
        return _median([s.get(key, 0) for u in units for s in u["steps"]
                        if s["step"] == name])

    head = (f"{'step':<28}{'wall_s':>8}{'self_s':>8}{'spark_s':>8}"
            f"{'drv%':>6}{'tasks':>7}{'run_ms':>9}{'cpu_ms':>9}"
            f"{'py_ms':>8}{'state_ms':>9}")
    lines = [
        f"where the time went: {doc['workload']} (seed {doc['seed']}, "
        f"{len(units)} traced {units[0]['kind'] if units else ''} unit(s), "
        f"medians)",
        head,
    ]
    tot = dict.fromkeys(("wall", "self", "spark", "tasks", "run", "cpu", "py", "st"), 0.0)
    for n in names:
        row = {
            "wall": med(n, "wall_s"), "self": med(n, "driver_s"),
            "spark": med(n, "spark_s"), "tasks": med(n, "tasks"),
            "run": med(n, "exec_run_ms"), "cpu": med(n, "exec_cpu_ms"),
            "py": med(n, "python_ms"), "st": med(n, "stream_state_commit_ms"),
        }
        for k in tot:
            tot[k] += row[k]
        share = 100.0 * row["self"] / row["wall"] if row["wall"] else 0.0
        lines.append(
            f"{n:<28}{row['wall']:>8.2f}{row['self']:>8.2f}{row['spark']:>8.2f}"
            f"{share:>6.0f}{row['tasks']:>7.0f}{row['run']:>9.0f}{row['cpu']:>9.0f}"
            f"{row['py']:>8.0f}{row['st']:>9.0f}"
        )
    share = 100.0 * tot["self"] / tot["wall"] if tot["wall"] else 0.0
    lines.append(
        f"{'sum of steps':<28}{tot['wall']:>8.2f}{tot['self']:>8.2f}"
        f"{tot['spark']:>8.2f}{share:>6.0f}{tot['tasks']:>7.0f}{tot['run']:>9.0f}"
        f"{tot['cpu']:>9.0f}{tot['py']:>8.0f}{tot['st']:>9.0f}"
    )
    wall = _median([u["wall_s"] for u in units])
    lines.append(f"{'unit wall':<28}{wall:>8.2f}")
    pct, on, off = overhead_pct(doc)
    lines.append(
        f"tracing overhead: {pct:+.1f}% (traced unit {on:.3f} s against the"
        f" mean of its untraced neighbours, {off:.3f} s)"
    )
    return "\n".join(lines)


if __name__ == "__main__":
    with open(sys.argv[1]) as fh:
        print(render(json.load(fh)))
