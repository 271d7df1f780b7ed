"""Re-pin the expected outputs in ``pins.json`` (run from the repo root):

    python3 perfbench/pin.py

For each input scale it records the key tree of the six JSON exports
of one hourly DAG pass, and the row count and order-independent
content hash of each curation key. Every curation result is first
cross-checked against the key's DuckDB oracle (``registry.ORACLES``)
over the same input files; a mismatch aborts without writing.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    sys.path[:0] = [os.path.dirname(HERE), HERE]
    import duckdb

    import prepare
    import run
    import workloads

    work = os.path.join(os.getcwd(), ".perfbench")
    run._environment(work)
    os.chdir(work)
    from big_data_project_spark.catalog import TABLES
    from big_data_project_spark.plans.dag import reference_hourly_dag, run_dag
    from big_data_project_spark.registry import ORACLES, QUERIES
    from big_data_project_spark.session import get_spark

    for scale in prepare.SCALES:
        if not prepare.is_built(work, scale):
            subprocess.run([sys.executable, os.path.join(HERE, "prepare.py"),
                            work, scale], check=True)
    spark = get_spark("perfbench-pin")
    pins = {}
    for scale in prepare.SCALES:
        inputs = prepare.inputs_dir(work, scale)
        out = os.path.join(work, "out", "pin")
        report = run_dag(spark, reference_hourly_dag(os.path.join(inputs, "dag"), out))
        bad = [r for r in report if r["status"] != "success"]
        if bad:
            raise SystemExit(f"{scale}: DAG jobs failed: {bad}")
        exp = os.path.join(out, "exports")
        exports = {}
        for name in sorted(os.listdir(exp)):
            with open(os.path.join(exp, name)) as fh:
                exports[name] = workloads.shape(json.load(fh))
        corpus = os.path.join(inputs, "corpus")
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(corpus, f"{t}.parquet")
            src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
        curation = {}
        for key in workloads.CURATION_KEYS:
            df = QUERIES[key](spark, corpus)
            cols = [c.lower() for c in df.columns]
            rows = [tuple(r) for r in df.collect()]
            got = {"rows": len(rows), "hash": workloads.value_hash(rows, cols)}
            res = con.execute(ORACLES[key])
            dcols = [d[0].lower() for d in res.description]
            drows = res.fetchall()
            oracle = {"rows": len(drows), "hash": workloads.value_hash(drows, dcols)}
            if got != oracle or sorted(cols) != sorted(dcols):
                raise SystemExit(f"{scale}: {key} spark {got} != oracle {oracle}")
            curation[key] = got
            print(f"{scale}: {key} {got} matches its DuckDB oracle", flush=True)
        pins[scale] = {"exports": exports, "curation": curation}
    run.stop_spark(spark)
    with open(os.path.join(HERE, "pins.json"), "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
