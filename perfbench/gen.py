"""Seeded node-metric load generator for the streaming workloads.

The generator is separate from the system under test: it writes parquet
chunks with pyarrow from one thread (no Spark, no
``streaming/sources.synthetic_*``), each published by an atomic rename
into the directory the stage-1 file source watches.

Value model (the reference datagen's shape, FIXTURES.md A4): per-node base
U(30, 70) x hour-of-day factor, noise U(-5, 5), clamped to [0, 100]. On a
seeded fraction of (node, window) pairs every event of the window is
shifted up by U(30, 50), so the baseline model raises alerts on them.

Node ``i`` starts at window ``i % 5`` so the model's emit cadence (every
5th window per key) is spread over all windows instead of firing for
every key at once.

Run as a script it is the paced (open-loop) generator process::

    python3 perfbench/gen.py --out DIR --tmp DIR --log FILE --seed 7 \
        --first-window 300 --chunks 40 --interval 0.25 --start-at EPOCH_S

It writes chunk ``k`` when it is due (``start-at + k * interval``),
whatever the consumer's progress, and logs each chunk's due and written
time as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WINDOW_S = 300
WATERMARK_S = 600
EPOCH0_S = 1_704_067_200  # 2024-01-01T00:00:00Z
#: hour-of-day factor of the reference datagen (FIXTURES.md A4)
HOUR_FACTOR = np.array([0.4] * 6 + [0.6] * 3 + [1.2] * 8 + [0.8] * 5 + [0.5] * 2)
SCHEMA = pa.schema(
    [
        ("node_id", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("cpu", pa.float64()),
        ("event_time", pa.int64()),
    ]
)
#: the same schema as a Spark DDL string, for the stage-1 file source
SPARK_SCHEMA = "node_id string, ts timestamp, cpu double, event_time long"


@dataclass(frozen=True)
class Shape:
    """What one run generates; every value is fixed per workload."""

    nodes: int = 50
    events_per_window: int = 4
    windows_per_chunk: int = 1
    anomaly_fraction: float = 0.3


def _window_rng(seed: int, window: int) -> np.random.Generator:
    # one stream per (seed, window): a chunk's bytes do not depend on how
    # the timeline was cut into chunks before it
    return np.random.default_rng([seed, window])


def window_table(seed: int, shape: Shape, window: int) -> pa.Table:
    """All nodes' events of one 5-minute window."""
    base = np.random.default_rng([seed, 1 << 30]).uniform(30.0, 70.0, shape.nodes)
    rng = _window_rng(seed, window)
    e = shape.events_per_window
    offsets_ms = np.sort(rng.integers(0, WINDOW_S * 1000, (shape.nodes, e)), axis=1)
    noise = rng.uniform(-5.0, 5.0, (shape.nodes, e))
    anomalous = rng.random(shape.nodes) < shape.anomaly_fraction
    shift = np.where(anomalous, rng.uniform(30.0, 50.0, shape.nodes), 0.0)
    w_start_ms = (EPOCH0_S + window * WINDOW_S) * 1000
    hour = ((w_start_ms // 1000) % 86_400) // 3600
    cpu = np.clip(base[:, None] * HOUR_FACTOR[hour] + noise + shift[:, None], 0.0, 100.0)
    active = np.arange(shape.nodes) % 5 <= window  # staggered node starts
    node_ids = np.array([f"node-{i:03d}" for i in range(shape.nodes)])[active]
    event_ms = (w_start_ms + offsets_ms[active]).reshape(-1)
    return pa.table(
        {
            "node_id": np.repeat(node_ids, e),
            "ts": pa.array(event_ms * 1000, pa.timestamp("us", tz="UTC")),
            "cpu": cpu[active].reshape(-1).round(2),
            "event_time": event_ms,
        },
        schema=SCHEMA,
    )


def chunk_table(seed: int, shape: Shape, chunk: int, first_window: int = 0) -> pa.Table:
    w0 = first_window + chunk * shape.windows_per_chunk
    return pa.concat_tables(
        window_table(seed, shape, w) for w in range(w0, w0 + shape.windows_per_chunk)
    )


def write_chunk(table: pa.Table, out_dir: str, tmp_dir: str, name: str) -> None:
    """Write to ``tmp_dir`` and publish with one rename, so the file
    source never lists a half-written file."""
    tmp = os.path.join(tmp_dir, name)
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(out_dir, name))


def chunk_name(first_window: int, chunk: int, shape: Shape) -> str:
    return f"chunk-{first_window + chunk * shape.windows_per_chunk:07d}.parquet"


def write_backlog(
    seed: int, shape: Shape, out_dir: str, tmp_dir: str, first_window: int, chunks: int
) -> list[dict]:
    """Pre-write ``chunks`` time-ordered chunks; returns their records."""
    log = []
    for k in range(chunks):
        t = chunk_table(seed, shape, k, first_window)
        write_chunk(t, out_dir, tmp_dir, chunk_name(first_window, k, shape))
        log.append(_record(k, t, due=None, written=time.time()))
    return log


def _record(k: int, t: pa.Table, due: float | None, written: float) -> dict:
    et = t.column("event_time").to_numpy()
    return {
        "chunk": k,
        "rows": t.num_rows,
        "min_event_ms": int(et.min()),
        "max_event_ms": int(et.max()),
        "due": due,
        "written": written,
    }


def run_paced(
    seed: int, shape: Shape, out_dir: str, tmp_dir: str, first_window: int,
    chunks: int, interval: float, start_at: float,
) -> list[dict]:
    """Open loop: chunk k is written at ``start_at + k * interval`` (or as
    soon as possible after, if the generator itself runs late)."""
    log = []
    for k in range(chunks):
        due = start_at + k * interval
        t = chunk_table(seed, shape, k, first_window)
        pause = due - time.time()
        if pause > 0:
            time.sleep(pause)
        write_chunk(t, out_dir, tmp_dir, chunk_name(first_window, k, shape))
        log.append(_record(k, t, due=due, written=time.time()))
    return log


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--out", required=True)
    p.add_argument("--tmp", required=True)
    p.add_argument("--log", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--first-window", type=int, required=True)
    p.add_argument("--chunks", type=int, required=True)
    p.add_argument("--interval", type=float, required=True)
    p.add_argument("--start-at", type=float, required=True)
    p.add_argument("--shape", default="{}", help="JSON of Shape fields")
    a = p.parse_args(argv)
    shape = Shape(**json.loads(a.shape))
    log = run_paced(
        a.seed, shape, a.out, a.tmp, a.first_window, a.chunks, a.interval, a.start_at
    )
    with open(a.log + ".tmp", "w") as f:
        json.dump(log, f)
    os.rename(a.log + ".tmp", a.log)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
