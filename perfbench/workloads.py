"""The three workloads, each a sequence of *units* of user-visible work.

- ``hourly_dag``: a unit is one pass of the reference's 8-job hourly
  graph (``run_dag(reference_hourly_dag(...))``), then
  ``release_caches()``, so every pass pays the full hour.
- ``realtime_feed``: a unit is one feed delivery. A GTFS-RT payload
  file and the matching event file land; the ingestor decodes the
  payloads (``decode_feed_messages``) and appends the entities to
  parquet while ``stream_events_hourly`` consumes the event file as one
  micro-batch. The unit runs from the landing until both are done; the
  next delivery lands then (a closed loop, as a poller that polls again
  once it has ingested). The first half of the deliveries after the
  cold one are ``warmup``: their time still falls as the JVM compiles.
- ``corpus_curation``: a unit is one pass of five curation keys from
  ``registry.QUERIES``, each written to the noop sink, then
  ``release_caches()``.

The first unit runs in a fresh session (``cold``); the later ones are
``steady``. Every unit counts the operations it attempted and those
that failed, and its outputs are checked.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field, replace
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CURATION_KEYS = (
    "gopher_rule_flags", "dedup_exact", "dedup_minhash_lsh",
    "semdedup_prune", "token_count",
)
DELIVERY_BLOCKS = 24
STAGED_DELIVERIES = 4


@dataclass
class Ops:
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok


@dataclass
class Ctx:
    spark: object
    tracer: object
    inputs: str
    work: str
    seconds: float
    pins: dict
    ops: Ops = field(default_factory=Ops)
    units: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)


# --- shared helpers --------------------------------------------------------

def shape(x, path=""):
    """Key tree of a JSON document: scalars collapse to a leaf, lists
    to their first item's shape, and the data-dependent action-name
    keys of the summary's ``actions`` dict to one marker."""
    if isinstance(x, dict):
        if path.endswith("/actions"):
            return "dict<action,scalar>"
        return {k: shape(x[k], f"{path}/{k}") for k in sorted(x)}
    if isinstance(x, list):
        return [shape(x[0], f"{path}[]")] if x else []
    return "scalar"


def value_hash(rows, cols) -> str:
    """Order-independent content hash: columns in name order, floats
    rounded to 6 places, timestamps ISO-formatted, rows sorted."""
    import hashlib
    import math

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if v is None:
                vals.append("NULL")
            elif isinstance(v, float):
                vals.append("NaN" if math.isnan(v) else f"{round(v, 6):.6f}")
            elif hasattr(v, "isoformat"):
                vals.append(v.isoformat())
            elif isinstance(v, (list, tuple)):
                vals.append(repr([round(x, 6) if isinstance(x, float) else x for x in v]))
            else:
                vals.append(str(v))
        norm.append("|".join(vals))
    return hashlib.md5("\n".join(sorted(norm)).encode()).hexdigest()


def _release(ctx: Ctx, unit: int, rec: dict) -> None:
    from big_data_project_spark.caching import release_caches

    rec["cache_storage_bytes"] = ctx.tracer.storage_bytes(unit)
    t0 = time.perf_counter()
    rec["cache_entries"] = release_caches()
    rec["cache_release_s"] = time.perf_counter() - t0


def _batch_units(ctx: Ctx, one_pass, min_steady: int) -> None:
    """Run passes: the cold one, then steady ones until the next would
    end past ``seconds`` (at least ``min_steady``)."""
    from probes import tree_cpu_s

    t_start = time.perf_counter()
    k = 0
    while True:
        cpu0 = tree_cpu_s()
        t0w, t0 = time.time(), time.perf_counter()
        rec: dict = {}
        one_pass(k, rec)
        _release(ctx, k, rec)
        wall = time.perf_counter() - t0
        rec["cpu_s"] = tree_cpu_s() - cpu0
        ctx.units.append(
            ctx.tracer.close_unit(k, "cold" if k == 0 else "steady",
                                  t0w, t0w + wall, **rec)
        )
        k += 1
        elapsed = time.perf_counter() - t_start
        if k - 1 >= min_steady and elapsed + wall > ctx.seconds:
            break


# --- hourly_dag ------------------------------------------------------------

def run_hourly_dag(ctx: Ctx) -> None:
    from big_data_project_spark.plans.dag import reference_hourly_dag, run_dag

    sf_dir = os.path.join(ctx.inputs, "dag")
    out_dir = os.path.join(ctx.work, "out", "dag")
    shutil.rmtree(out_dir, ignore_errors=True)
    pinned = ctx.pins["exports"]

    def one_pass(k: int, rec: dict) -> None:
        jobs = reference_hourly_dag(sf_dir, out_dir)
        jobs = [replace(j, fn=ctx.tracer.wrap(k, j.name, j.fn)) for j in jobs]
        report = run_dag(ctx.spark, jobs)
        for row in report:
            ctx.ops.check(row["status"] == "success",
                          f"pass {k}: {row['name']} {row['status']} {row['error']}")
        exp = os.path.join(out_dir, "exports")
        for name, want in sorted(pinned.items()):
            try:
                with open(os.path.join(exp, name)) as fh:
                    got = shape(json.load(fh))
            except (OSError, json.JSONDecodeError) as exc:
                got = repr(exc)
            ctx.ops.check(got == want, f"pass {k}: export {name} key tree")

    _batch_units(ctx, one_pass, min_steady=3 if ctx.tracer.enabled else 1)


# --- corpus_curation -------------------------------------------------------

def run_corpus_curation(ctx: Ctx) -> None:
    from big_data_project_spark.registry import QUERIES

    sf_dir = os.path.join(ctx.inputs, "corpus")

    def one_pass(k: int, rec: dict) -> None:
        for key in CURATION_KEYS:
            try:
                with ctx.tracer.step(k, key):
                    QUERIES[key](ctx.spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                ctx.ops.check(True, key)
            except Exception as exc:  # noqa: BLE001 — counted, not masked
                ctx.ops.check(False, f"pass {k}: {key}: {exc!r}"[:500])

    _batch_units(ctx, one_pass, min_steady=3 if ctx.tracer.enabled else 2)
    # output check, outside the timed passes: row count and content hash
    for key in CURATION_KEYS:
        df = QUERIES[key](ctx.spark, sf_dir)
        cols = [c.lower() for c in df.columns]
        rows = [tuple(r) for r in df.collect()]
        got = {"rows": len(rows), "hash": value_hash(rows, cols)}
        ctx.ops.check(got == ctx.pins["curation"][key],
                      f"{key}: {got} != pinned {ctx.pins['curation'][key]}")
    from big_data_project_spark.caching import release_caches

    release_caches()


# --- realtime_feed ---------------------------------------------------------

def stage_feed(inputs: str, work: str, seed: int, n: int) -> list[dict]:
    """Cut the feed blocks into ``n`` deliveries for one seed: the seed
    picks which blocks make up each delivery and the landing order.
    Each delivery is one event file and one payload file."""
    feed = os.path.join(inputs, "feed")
    with open(os.path.join(feed, "blocks.json")) as fh:
        blocks = json.load(fh)
    stage = os.path.join(work, "rt", "stage")
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    rng = np.random.default_rng(seed)
    order: list[int] = []
    while len(order) < n * DELIVERY_BLOCKS:
        order.extend(rng.permutation(len(blocks)).tolist())
    out = []
    for d in range(n):
        picks = order[d * DELIVERY_BLOCKS : (d + 1) * DELIVERY_BLOCKS]
        rec = {"events_path": os.path.join(stage, f"events-{d:03d}.parquet"),
               "payload_path": os.path.join(stage, f"payload-{d:03d}.parquet")}
        for kind, fname in (("events", "events_path"), ("payload", "payload_path")):
            tables = [pq.read_table(os.path.join(feed, f"{kind}-{b:03d}.parquet"))
                      for b in picks]
            pq.write_table(pa.concat_tables(tables), rec[fname])
        for key in ("events", "vehicle", "trip_update", "alert"):
            rec[key] = sum(blocks[b][key] for b in picks)
        out.append(rec)
    return out


def steady_deliveries(seconds: float) -> int:
    """Deliveries after the cold one: a fixed count per run length (one
    per 3 s asked for, at least 6). The first half of them are the
    JVM's warm-up (their lag falls by about 40%); the rest are steady."""
    return max(6, round(seconds / 3))


def _land(src: str, dst_dir: str, name: str) -> None:
    tmp = os.path.join(dst_dir, f".{name}")
    shutil.copyfile(src, tmp)
    os.rename(tmp, os.path.join(dst_dir, name))


def _progress_end(p: dict) -> float:
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
    return start.timestamp() + p["durationMs"]["triggerExecution"] / 1000


def run_realtime_feed(ctx: Ctx) -> None:
    from big_data_project_spark.sources.protofeed import decode_feed_messages
    from big_data_project_spark.streaming.pipeline import (
        EVENTS_SCHEMA,
        stream_events_hourly,
    )
    from probes import tree_cpu_s

    spark, tracer = ctx.spark, ctx.tracer
    staged = ctx.extra["deliveries"]
    rt = os.path.join(ctx.work, "rt")
    land, feed, ents = (os.path.join(rt, d) for d in ("land", "feed", "entities"))
    for d in (land, feed, ents, os.path.join(rt, "ckpt")):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(land)
    os.makedirs(feed)
    landed_at: list[float] = []
    decode_end: list[float] = []
    released: list[dict] = []

    def deliver(k: int) -> None:
        """Land delivery ``k``: its event file and its payload file."""
        d = staged[k % len(staged)]
        landed_at.append(time.time())
        _land(d["events_path"], land, f"e{k:04d}.parquet")
        _land(d["payload_path"], feed, f"p{k:04d}.parquet")

    def ingest(k: int) -> None:
        """Decode delivery ``k``'s payloads and append the entities,
        while the stream consumes its event file."""
        try:
            with tracer.step(k, "decode"):
                decode_feed_messages(
                    spark.read.parquet(os.path.join(feed, f"p{k:04d}.parquet"))
                ).write.mode("append").parquet(ents)
            ctx.ops.check(True, "decode")
        except Exception as exc:  # noqa: BLE001 — counted, not masked
            ctx.ops.check(False, f"delivery {k}: decode {exc!r}"[:500])
        decode_end.append(time.time())
        # the stream path should hold no cache; a leak shows as entries
        released.append({})
        _release(ctx, k, released[-1])

    cpu = [tree_cpu_s()]
    # the cold unit: the first delivery starts the stream in the fresh session
    src = (spark.readStream.schema(EVENTS_SCHEMA)
           .option("maxFilesPerTrigger", 1).parquet(land))
    query = None
    try:
        for k in range(steady_deliveries(ctx.seconds) + 1):
            deliver(k)
            if k == 0:
                query = (stream_events_hourly(spark, src).writeStream
                         .format("memory").queryName("perfbench_live_kpi")
                         .outputMode("complete")
                         .option("checkpointLocation", os.path.join(rt, "ckpt"))
                         .start())
            ingest(k)
            query.processAllAvailable()
            cpu.append(tree_cpu_s())
    finally:
        if query is not None:
            batches = sorted(
                (json.loads(p.json) for p in query.recentProgress if p.numInputRows),
                key=lambda p: p["batchId"],
            )
            total = spark.sql(
                "SELECT coalesce(sum(vehicle_events), 0) FROM perfbench_live_kpi"
            ).collect()[0][0]
            query.stop()

    n = len(landed_at)
    run_id = str(query.runId)
    for k in range(n):
        p = batches[k] if k < len(batches) else None
        want = staged[k % len(staged)]["events"]
        ctx.ops.check(p is not None and p["numInputRows"] == want,
                      f"delivery {k}: micro-batch rows")
        end = max(decode_end[k], _progress_end(p) if p else time.time())
        if p is not None:
            t_end = _progress_end(p)
            dur = p["durationMs"]
            st = (p.get("stateOperators") or [{}])[0]
            tracer.external_step(
                k, "stream", t_end - dur["triggerExecution"] / 1000, t_end,
                group=run_id, batch=p["batchId"],
                stream_batch_ms=dur["triggerExecution"],
                stream_add_batch_ms=dur.get("addBatch", 0),
                stream_wal_commit_ms=dur.get("walCommit", 0),
                stream_state_commit_ms=st.get("commitTimeMs", 0),
                stream_state_rows=st.get("numRowsTotal", 0),
                stream_state_mem_bytes=st.get("memoryUsedBytes", 0),
            )
        kind = "cold" if k == 0 else "warmup" if k <= n // 2 else "steady"
        ctx.units.append(tracer.close_unit(
            k, kind, landed_at[k], end, cpu_s=cpu[k + 1] - cpu[k], **released[k]))

    # output checks: entity counts per kind, and the stream's final sum
    want = {key: sum(staged[k % len(staged)][key] for k in range(n))
            for key in ("events", "vehicle", "trip_update", "alert")}
    kinds = pq.read_table(ents, columns=["entity_kind"]).column(0).to_pylist()
    ctx.ops.check(len(kinds) == want["events"],
                  f"decoded {len(kinds)} entities, generated {want['events']}")
    for kind in ("vehicle", "trip_update", "alert"):
        got = sum(1 for x in kinds if x == kind)
        ctx.ops.check(got == want[kind], f"{kind}: decoded {got} != {want[kind]}")
    ctx.ops.check(total == want["events"],
                  f"stream sum(vehicle_events) {total} != landed {want['events']}")


WORKLOADS = {
    "hourly_dag": run_hourly_dag,
    "realtime_feed": run_realtime_feed,
    "corpus_curation": run_corpus_curation,
}


def summarize(units: list[dict]) -> dict:
    cold = [u for u in units if u["kind"] == "cold"]
    steady = [u for u in units if u["kind"] == "steady"]
    # with tracing on, only the untraced steady units time the program
    timed = [u for u in steady if not u["traced"]] or steady
    return {
        "cold_s": cold[0]["wall_s"],
        "steady_s": statistics.median(u["wall_s"] for u in timed),
        "steady_cpu_s": statistics.median(u["cpu_s"] for u in timed),
        "n_steady": len(timed),
    }
