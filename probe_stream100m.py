"""Streaming==batch parity at 100M events through TIME-ORDERED
micro-batches (round-11 scale rung for the streaming half of the
engine).

The committed streaming tests prove twin parity at fixture scale and
multi-batch state continuity over three chunks; the 10k-key restart
probe proves checkpointed determinism. This probe climbs the remaining
axis — VOLUME through the watermarked streaming path itself:

1. stage the 1000x events table (100M rows, 1.5M keys) as ~20 disjoint
   ascending event-time chunks, written sequentially so the file
   source's modification-time order IS event-time order (a real
   stream's arrival order; each 1000x part file otherwise spans the
   whole range, which would make every post-first batch 100% late);
2. run the W1/W2 streaming recipe (windowed_avg_stream: 10-minute
   watermark, 5-minute tumble, append mode) over those chunks with
   maxFilesPerTrigger pinning one chunk per micro-batch, availableNow,
   into a parquet sink — so windows open, close, and EMIT across ~20
   watermark advances, with state carried between micro-batches;
3. compare the emitted windows against the batch twin DISTRIBUTED
   (no driver collect): closed windows must match the batch aggregate
   exactly (count) and to 1e-9 (avg — partial-merge order differs),
   extra/mismatched rows must be zero, and every batch window ABSENT
   from the stream output must sit past the final watermark horizon
   (the un-closed tail of a finite input — same discipline as
   tests/test_streaming.py::test_streaming_window_agg_equals_batch).

Run manually (the staging write + stream + compare is ~15-30 min):

    SPARK_GRAFT_DRIVER_MEM=24g python probe_stream100m.py

Env:
    SPARK_GRAFT_PROBE_SRC      scaled data dir (default /tmp/fcs_scale1000)
    SPARK_GRAFT_STREAM_CHUNKS  time chunks / micro-batches (default 20)
Prints one JSON line per phase; record results in PERF.md.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SRC = os.environ.get("SPARK_GRAFT_PROBE_SRC", "/tmp/fcs_scale1000")
CHUNKS = int(os.environ.get("SPARK_GRAFT_STREAM_CHUNKS", "20"))


def main() -> None:
    from pyspark.sql import functions as F

    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.session import get_spark
    from flink_cookbook_spark.streaming.recipes import windowed_avg_stream

    # state at the core count, as in the recorded results (the session
    # default is one state partition)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_spark(app_name="fcs-stream100m-probe", shuffle_partitions=cpus)
    work = tempfile.mkdtemp(prefix="fcs_stream100m_")
    stage = os.path.join(work, "staged")
    sink = os.path.join(work, "sink")
    ckpt = os.path.join(work, "ckpt")
    try:
        events = load(spark, SRC, "events")
        lo, hi, n_rows = events.agg(
            F.min(F.col("ts").cast("long")),
            F.max(F.col("ts").cast("long")),
            F.count("*"),
        ).collect()[0]
        span = (hi - lo) + 1
        step = math.ceil(span / CHUNKS)
        t0 = time.time()
        os.makedirs(stage)
        files_per_chunk = 0
        # sequential writes: the file source orders by modification time,
        # so writing chunk i after chunk i-1 makes arrival order ==
        # event-time order, like a live stream
        for i in range(CHUNKS):
            a, b = lo + i * step, min(hi + 1, lo + (i + 1) * step)
            # repartition (not coalesce): EXACTLY 8 equal-size files per
            # chunk, so maxFilesPerTrigger=8 pins one chunk per micro-batch
            # — a batch straddling a chunk boundary would advance the
            # watermark past the rest of the straddled chunk and drop it
            # as late (chunk time-span >> the 10-minute delay)
            chunk = events.where(
                (F.col("ts").cast("long") >= a) & (F.col("ts").cast("long") < b)
            ).repartition(8)
            chunk.write.mode("overwrite").parquet(os.path.join(stage, f"chunk_{i:03d}"))
            time.sleep(1.05)  # distinct mtimes at 1s filesystem granularity
        for i in range(CHUNKS):
            d = os.path.join(stage, f"chunk_{i:03d}")
            parts = [f for f in os.listdir(d) if f.endswith(".parquet")]
            if len(parts) != 8:
                raise SystemExit(f"chunk {i} has {len(parts)} files, want 8")
            files_per_chunk = 8
        print(
            json.dumps(
                {
                    "staged_rows": n_rows,
                    "chunks": CHUNKS,
                    "max_files_per_chunk": files_per_chunk,
                    "stage_sec": round(time.time() - t0, 1),
                }
            ),
            flush=True,
        )

        static = spark.read.parquet(os.path.join(stage, "chunk_*"))

        def metrics_view(df):
            return df.select(
                F.col("user_id").cast("string").alias("node_id"),
                F.col("ts"),
                F.col("value").alias("cpu"),
                (F.col("ts").cast("long") * 1000).alias("event_time"),
            )

        t1 = time.time()
        # recipe parameters — the horizon math below derives from THESE,
        # not hard-coded constants (advisor r11: the old 600/300 literals
        # silently assumed the defaults)
        watermark_sec = 600  # "10 minutes" passed to windowed_avg_stream
        window_sec = 300  # "5 minutes" passed to windowed_avg_stream
        stream = spark.readStream.schema(static.schema).option(
            "maxFilesPerTrigger", files_per_chunk
        ).parquet(os.path.join(stage, "chunk_*"))
        out = windowed_avg_stream(
            metrics_view(stream),
            watermark=f"{watermark_sec} seconds",
            window=f"{window_sec} seconds",
        )
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        batches = q.lastProgress["batchId"] + 1 if q.lastProgress else -1
        # the FINAL watermark as the engine itself reported it (advisor
        # r11: deriving it as hi - delay uses the floor-second max ts
        # while the watermark tracks sub-second max event time, excusing
        # a window closing in that gap from the withheld-but-closed
        # check). ISO-8601 UTC, e.g. "2024-01-01T00:10:00.000Z".
        reported_wm = None
        try:
            wm_iso = (q.lastProgress or {}).get("eventTime", {}).get("watermark")
            if wm_iso:
                from datetime import datetime, timezone

                fmt = "%Y-%m-%dT%H:%M:%S.%fZ" if "." in wm_iso else "%Y-%m-%dT%H:%M:%SZ"
                # keep the FULL float epoch (advisor r12: int() truncation
                # re-introduced the <1 s sub-second slack that using the
                # reported watermark was meant to eliminate — a window
                # closing inside the truncated sliver was still excused
                # from the withheld-but-closed check)
                reported_wm = (
                    datetime.strptime(wm_iso, fmt)
                    .replace(tzinfo=timezone.utc)
                    .timestamp()
                )
        except Exception:
            reported_wm = None
        stream_sec = time.time() - t1
        got = spark.read.parquet(sink)
        n_got = got.count()
        print(
            json.dumps(
                {
                    "micro_batches": batches,
                    "stream_sec": round(stream_sec, 1),
                    "rows_per_sec": int(n_rows / stream_sec),
                    "emitted_windows": n_got,
                }
            ),
            flush=True,
        )

        # batch twin, same expressions
        want = (
            metrics_view(static)
            .groupBy(F.window("ts", "5 minutes").alias("w"), "node_id")
            .agg(
                F.avg("cpu").alias("avg_value"),
                F.count("*").alias("n_events"),
                F.max("event_time").alias("max_event_time"),
            )
            .select(
                F.col("node_id").alias("user_id"),
                F.col("w.start").cast("long").alias("window_start"),
                "avg_value",
                "n_events",
                "max_event_time",
            )
        )
        keys = ["user_id", "window_start"]
        joined = got.alias("g").join(want.alias("b"), keys, "inner")
        n_join = joined.count()
        n_mismatch = joined.where(
            (F.col("g.n_events") != F.col("b.n_events"))
            | (F.col("g.max_event_time") != F.col("b.max_event_time"))
            | (F.abs(F.col("g.avg_value") - F.col("b.avg_value")) > 1e-9)
        ).count()
        n_extra = got.join(want, keys, "left_anti").count()
        # duplicate-emission guard (advisor r11): a window row emitted
        # TWICE with identical values still inner-joins once per copy
        # (n_join == n_got) and is never "extra", so the old checks were
        # blind to it. Distinct key count must equal raw sink row count.
        n_got_distinct = got.select(*keys).distinct().count()
        # withheld-but-closed: prefer the engine-reported final
        # watermark; fall back to hi - delay (documented slack: the
        # fallback under-approximates by < 1 s of sub-second event time,
        # so a window closing inside that sliver would be excused).
        horizon = reported_wm if reported_wm is not None else hi - watermark_sec
        late_tail = want.join(got, keys, "left_anti")
        n_missing = late_tail.count()
        n_missing_closed = late_tail.where(
            F.col("window_start") + window_sec <= F.lit(horizon)
        ).count()
        verdict = {
            "joined": n_join,
            "mismatched": n_mismatch,
            "extra_in_stream": n_extra,
            "duplicate_emissions": n_got - n_got_distinct,
            "watermark_source": "reported" if reported_wm is not None else "derived",
            "withheld_tail": n_missing,
            "withheld_but_closed": n_missing_closed,
            "parity": bool(
                n_mismatch == 0
                and n_extra == 0
                and n_got_distinct == n_got
                and n_missing_closed == 0
                and n_join == n_got
                and n_got > 0
            ),
        }
        print(json.dumps(verdict), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
