"""One-time input build, cached per fingerprint.

Writes under ``<work>/inputs/<scale>/``:

- ``dag/``: the hourly DAG's tables, single-file (as the test data is);
- ``corpus/``: the curation tables, facts split into part files;
- ``feed/``: the realtime feed as blocks. Each block is a parquet file
  of events whose timestamps fall inside one 100-minute live window
  (so the stream's 2-hour watermark never drops a row, whatever the
  landing order) plus the same events pre-encoded as GTFS-RT
  FeedMessage payloads by ``protofeed.encode_feed_messages``.

The build depends on the scale and on this file's and ``gen.py``'s
source only, never on the run's seed; a ``_MANIFEST.json`` fingerprint
skips it when nothing changed. It runs in its own process (the payload
encoding needs a Spark session) so that the measured process never
warms its JVM on build work.

Usage: python3 perfbench/prepare.py <work_dir> <scale>
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SCALES = {
    "default": {"dag_sf": 0.01, "corpus_sf": 0.1, "corpus_parts": 8, "feed_blocks": 32},
    "tiny": {"dag_sf": 0.001, "corpus_sf": 0.001, "corpus_parts": 2, "feed_blocks": 8},
}
FEED_WINDOW_MIN = 100


def fingerprint(scale: str) -> dict:
    h = hashlib.sha256()
    for f in ("gen.py", "prepare.py"):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return {"scale": scale, **SCALES[scale], "source": h.hexdigest()}


def inputs_dir(work: str, scale: str) -> str:
    return os.path.join(work, "inputs", scale)


def is_built(work: str, scale: str) -> bool:
    manifest = os.path.join(inputs_dir(work, scale), "_MANIFEST.json")
    try:
        with open(manifest) as fh:
            return json.load(fh) == fingerprint(scale)
    except (OSError, json.JSONDecodeError):
        return False


def _feed(spark, src_events: str, dst: str, blocks: int) -> None:
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_project_spark.sources.protofeed import encode_feed_messages

    ev = pq.read_table(src_events).to_pandas()
    t0 = pd.Timestamp("2024-01-01")
    # squeeze the 30-day month into one live window, order preserved
    ev["ts"] = pd.Timestamp("2024-02-01") + (ev["ts"] - t0) * (
        FEED_WINDOW_MIN / (30 * 24 * 60)
    )
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    os.makedirs(dst)
    meta = []
    for b in range(blocks):
        part = ev.iloc[np.arange(b, len(ev), blocks)]
        path = os.path.join(dst, f"events-{b:03d}.parquet")
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), path)
        payload = encode_feed_messages(spark.read.parquet(path)).toPandas()
        pq.write_table(
            pa.Table.from_pandas(payload, preserve_index=False),
            os.path.join(dst, f"payload-{b:03d}.parquet"),
        )
        kinds = (part["event_id"] % 3).value_counts()
        meta.append(
            {
                "events": len(part),
                "vehicle": int(kinds.get(0, 0)),
                "trip_update": int(kinds.get(1, 0)),
                "alert": int(kinds.get(2, 0)),
            }
        )
    with open(os.path.join(dst, "blocks.json"), "w") as fh:
        json.dump(meta, fh)


def build(work: str, scale: str) -> None:
    sys.path[:0] = [ROOT, HERE]
    import gen
    from big_data_project_spark.session import get_spark
    from run import stop_spark

    cfg = SCALES[scale]
    dst = inputs_dir(work, scale)
    if os.path.exists(dst):
        shutil.rmtree(dst)
    os.makedirs(dst)
    gen.build_dataset(os.path.join(dst, "dag"), cfg["dag_sf"])
    corpus = os.path.join(dst, "corpus")
    gen.build_dataset(corpus, cfg["corpus_sf"], cfg["corpus_parts"])
    spark = get_spark("perfbench-build")
    try:
        _feed(spark, os.path.join(corpus, "events.parquet"),
              os.path.join(dst, "feed"), cfg["feed_blocks"])
    finally:
        stop_spark(spark)
    with open(os.path.join(dst, "_MANIFEST.json"), "w") as fh:
        json.dump(fingerprint(scale), fh)


if __name__ == "__main__":
    build(sys.argv[1], sys.argv[2])
