"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload hourly_dag --seed 1 --seconds 20 --trace 0

Run from the repository root. Inputs are built once per fingerprint
under ``.perfbench/`` (``prepare.py``, in its own process, outside
``setup_s``); everything the run reads or writes stays under the
current directory. Spark runs ``local[<nproc>]`` from this one process.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same schedule with spans and status-store counters on every traced
unit and prints the per-layer metrics plus a "where the time went"
table. The last stdout line is always the result object.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "big_data_project_spark"
SETUP_REPEATS = 3

END_TO_END = {
    "setup_s": "s", "cold_s": "s", "steady_s": "s", "steady_cpu_s": "s",
}
PER_LAYER = {
    "session_start_s": "s", "unit_wall_s": "s", "trace_overhead_pct": "%",
    "driver_s": "s", "spark_s": "s", "jobs": "count", "stages": "count",
    "tasks": "count", "exec_run_ms": "ms", "exec_cpu_ms": "ms",
    "dispatch_ms": "ms", "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "cache_entries": "count", "cache_storage_bytes": "bytes",
    "cache_release_s": "s",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["hourly_dag", "realtime_feed", "corpus_curation"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["default", "tiny"], default="default",
                   help="tiny: sf0.001-sized inputs for the smoke test")
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write under
    ``work``; let Python workers import the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    os.environ["JDK_JAVA_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_MEM", "3g")


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"package {PACKAGE!r} not found next to {HERE}", file=sys.stderr)
        return 2
    work = os.path.join(os.getcwd(), ".perfbench")
    os.makedirs(work, exist_ok=True)
    _environment(work)
    sys.path[:0] = [ROOT, HERE]
    import prepare
    import workloads
    from probes import TreeSampler, host_busy_s, tree_cpu_s

    build_s = 0.0
    if not prepare.is_built(work, args.scale):
        t0 = time.perf_counter()
        subprocess.run(
            [sys.executable, os.path.join(HERE, "prepare.py"), work, args.scale],
            check=True, cwd=work, stdout=sys.stderr,
        )
        build_s = time.perf_counter() - t0
    print(f"inputs: {prepare.inputs_dir(work, args.scale)} (build {build_s:.2f} s)",
          flush=True)
    with open(os.path.join(HERE, "pins.json")) as fh:
        pins = json.load(fh)[args.scale]
    os.chdir(work)  # derby.log, spark-warehouse and metastore land here

    with TreeSampler() as sampler:
        from big_data_project_spark.session import get_spark
        from spans import Tracer, overhead_pct, render, unit_totals

        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        spark.range(1).count()
        session_start_s = time.perf_counter() - t0
        launch_s = time.perf_counter() - T_START - build_s
        inputs = prepare.inputs_dir(work, args.scale)
        staged = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            extra = _stage(args, inputs, work, workloads)
            staged.append(time.perf_counter() - t0)
        setup_s = launch_s + statistics.median(staged)
        print(f"setup: launch {launch_s:.3f} s (session {session_start_s:.3f} s),"
              f" staging {', '.join(f'{s:.3f}' for s in staged)} s", flush=True)

        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        tracer = Tracer(spark, run_id, bool(args.trace))
        ctx = workloads.Ctx(spark=spark, tracer=tracer, inputs=inputs, work=work,
                            seconds=args.seconds, pins=pins, extra=extra)
        host0, own0, t_run = host_busy_s(), tree_cpu_s(), time.perf_counter()
        try:
            workloads.WORKLOADS[args.workload](ctx)
        except Exception:  # noqa: BLE001 — a crash is reported, never a result
            traceback.print_exc()
            stop_spark(spark)
            return 1
        run_wall = time.perf_counter() - t_run
        cotenant = ((host_busy_s() - host0) - (tree_cpu_s() - own0)) / run_wall
        stop_spark(spark)
    summary = workloads.summarize(ctx.units)
    import pandas
    import pyarrow
    import pyspark

    validity = {
        "nproc": len(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__, "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "cotenant_cores": round(cotenant, 3),
        "load": "closed loop, one unit at a time",
        "n_steady": summary["n_steady"], "build_s": build_s,
        "peak_rss_mb": round(sampler.peak_rss / 2**20, 1),
    }
    print("validity: " + json.dumps(validity), flush=True)
    print("units: " + json.dumps(
        [(u["kind"], round(u["wall_s"], 3), round(u["cpu_s"], 2), u["traced"])
         for u in ctx.units]), flush=True)
    for err in ctx.ops.errors:
        print(f"FAILED: {err}", file=sys.stderr)

    if args.trace:
        os.makedirs(os.path.join(work, "trace"), exist_ok=True)
        doc = tracer.dump(
            os.path.join(work, "trace", f"{args.workload}-seed{args.seed}.json"),
            workload=args.workload, seed=args.seed, validity=validity,
            session_start_s=session_start_s,
        )
        print(render(doc), flush=True)
        values = unit_totals(doc)
        values["dispatch_ms"] = values["exec_run_ms"] - values["exec_cpu_ms"]
        values["session_start_s"] = session_start_s
        values["trace_overhead_pct"] = overhead_pct(doc)[0]
        units = PER_LAYER
    else:
        values = {
            "setup_s": setup_s,
            "cold_s": summary["cold_s"],
            "steady_s": summary["steady_s"],
            "steady_cpu_s": summary["steady_cpu_s"],
        }
        units = END_TO_END
    result = {
        "correct": ctx.ops.failed == 0,
        "attempted": ctx.ops.attempted,
        "failed": ctx.ops.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def _stage(args, inputs: str, work: str, workloads) -> dict:
    """Per-seed staging, part of set-up: the realtime deliveries are cut
    from the built feed blocks; the batch workloads start from empty
    output directories."""
    shutil.rmtree(os.path.join(work, "out"), ignore_errors=True)
    if args.workload != "realtime_feed":
        return {}
    return {"deliveries": workloads.stage_feed(
        inputs, work, args.seed, workloads.STAGED_DELIVERIES)}


if __name__ == "__main__":
    sys.exit(main())
