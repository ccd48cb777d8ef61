"""The ``stream`` workload: the repo's two-query alert topology, wired as
``cli.py --mode stream`` wires it, fed by the seeded generator.

stage 1 ``window_agg``: parquet chunks -> ``windowed_avg_stream`` ->
    parquet intermediate (``to_sink``)
stage 2 ``sarimax_baseline``: intermediate -> ``alerts_stream`` (the
    ``applyInPandasWithState`` baseline + alert filter) -> alert sink

It runs in two phases on one pair of queries:

1. closed loop: a pre-written, time-ordered backlog of ``min_history``
   and more windows per key is drained by both stages; its wall time is
   ``work_s``. Large micro-batches, so per-row work weighs more than in
   phase 2.
2. open loop: a generator process then writes one chunk per fixed wall
   interval, whatever the system's progress, and each alert's latency is
   measured. Small micro-batches: per-trigger fixed cost dominates. The
   backlog of phase 1 is the history the baseline model needs before it
   raises alerts.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from dataclasses import replace

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

from common import alert_latencies, median, tail
from gen import SPARK_SCHEMA, WATERMARK_S, WINDOW_S, Shape, write_backlog

#: 50 nodes, 4 events per node and window; the paced phase writes one
#: 5-minute window per chunk (200 rows) every PACED_INTERVAL_S
SHAPE = Shape(nodes=50, events_per_window=4, windows_per_chunk=1, anomaly_fraction=0.3)
PACED_INTERVAL_S = 0.25  # 800 rows/s
#: the backlog: more than min_history (288) windows, in 10-window chunks,
#: taken by stage 1 in one trigger
BACKLOG_WINDOWS = 300
BACKLOG_SHAPE = replace(SHAPE, windows_per_chunk=10)
#: stage 1's fixed intake per trigger
MAX_FILES_PER_TRIGGER = 30
INTERMEDIATE_SCHEMA = "user_id long, window_start long, avg_value double"
#: tolerance of the streaming-vs-batch value checks (tests/test_streaming.py)
TOL = 1e-9


def _cli_config():
    """The reference's CLI defaults: history 1440/288, emit every 5,
    season 288, thresholds 3.0/50/1.0."""
    from flink_cookbook_spark.cli import build_parser, config_from_args

    args = build_parser().parse_args(["--mode", "stream"])
    return config_from_args(args), args


class Topology:
    """Both stages of the alert topology plus the alert sink that stamps
    each delivered batch with its wall time."""

    def __init__(self, spark, run, src: str):
        from pyspark.sql import functions as F

        from flink_cookbook_spark.streaming.recipes import (
            alerts_stream,
            to_sink,
            windowed_avg_stream,
        )

        self.spark, self.run, self.src = spark, run, src
        self.inter = os.path.join(run.work, "intermediate")
        self.ckpt = os.path.join(run.work, "checkpoints")
        os.makedirs(self.inter, exist_ok=True)
        self.cfg, args = _cli_config()
        self.alerts: list[tuple[int, int, float, dict]] = []  # uid, ws, delivered, row
        self.emits = 0  # baseline records, counted by the output check
        metrics = (
            spark.readStream.schema(SPARK_SCHEMA)
            .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
            .parquet(src)
        )
        windowed = windowed_avg_stream(metrics).select(
            F.pmod(F.xxhash64("user_id"), F.lit(1_000_000)).alias("user_id"),
            "window_start",
            "avg_value",
        )
        with run.tracer.span("query_start", query="window_agg"):
            self.q1 = to_sink(
                windowed, fmt="parquet", query_name="window_agg",
                checkpoint=os.path.join(self.ckpt, "windowed"), path=self.inter,
            )
        stage2_src = spark.readStream.schema(INTERMEDIATE_SCHEMA).parquet(self.inter)
        alerts = alerts_stream(
            stage2_src, self.cfg, z_threshold=args.z_threshold,
            pct_threshold=args.pct_threshold, min_baseline=args.min_baseline,
        )
        with run.tracer.span("query_start", query="sarimax_baseline"):
            self.q2 = (
                alerts.writeStream.outputMode("append")
                .queryName("sarimax_baseline")
                .option("checkpointLocation", os.path.join(self.ckpt, "alerts"))
                .foreachBatch(self._sink)
                .start()
            )

    def _sink(self, batch_df, epoch_id: int) -> None:
        start = time.time()
        rows = batch_df.collect()
        delivered = time.time()
        self.alerts.extend((r.user_id, r.window_start, delivered, r.asDict()) for r in rows)
        self.run.tracer.add("alert_sink", start, delivered, batch=epoch_id, alerts=len(rows))

    def drain(self) -> None:
        self.q1.processAllAvailable()
        self.q2.processAllAvailable()

    def stop(self) -> None:
        for q in (self.q1, self.q2):
            q.stop()

    def progress(self, q) -> list:
        return list(q.recentProgress)


def _read_chunks(src: str) -> pd.DataFrame:
    return ds.dataset(src, format="parquet").to_table(
        columns=["node_id", "cpu", "event_time"]
    ).to_pandas()


def check_outputs(spark, topo: Topology) -> list[str]:
    """Untimed output checks; returns the failed ones."""
    from pyspark.sql import functions as F

    from flink_cookbook_spark.streaming.sarimax import baseline_batch

    failed = []
    events = _read_chunks(topo.src)
    # 1. stage 1's intermediate == the batch window average of the
    #    generated rows, for every window the final watermark closed
    watermark_ms = int(events["event_time"].max()) - WATERMARK_S * 1000
    events["window_start"] = events["event_time"] // (WINDOW_S * 1000) * WINDOW_S
    want = events.groupby(["node_id", "window_start"], as_index=False)["cpu"].mean()
    want = want[(want["window_start"] + WINDOW_S) * 1000 <= watermark_ms]
    keys = spark.createDataFrame(
        pd.DataFrame({"node_id": sorted(events["node_id"].unique())})
    ).select("node_id", F.pmod(F.xxhash64("node_id"), F.lit(1_000_000)).alias("user_id"))
    want = want.merge(keys.toPandas(), on="node_id")
    inter = spark.read.schema(INTERMEDIATE_SCHEMA).parquet(topo.inter).toPandas()
    got = inter.merge(want, on=["user_id", "window_start"], how="outer", indicator=True)
    if (got["_merge"] != "both").any() or len(got) != len(inter):
        failed.append(f"stage1: {int((got['_merge'] != 'both').sum())} windows differ")
    elif not np.allclose(got["avg_value"], got["cpu"], rtol=0, atol=TOL):
        failed.append("stage1: window averages differ")
    # 2. stage 2's alerts == baseline_batch over that intermediate with the
    #    same config, then the same alert filter
    _, args = _cli_config()
    base = baseline_batch(spark.read.schema(INTERMEDIATE_SCHEMA).parquet(topo.inter), topo.cfg)
    b = base.toPandas()
    topo.emits = len(b)
    dev = b["observed"] - b["baseline"]
    b["pct_deviation"] = np.where(b["baseline"] >= args.min_baseline, dev / b["baseline"] * 100.0, 0.0)
    b["z_score"] = np.where(b["running_std"] > 0, dev / b["running_std"], 0.0)
    b = b[(b["z_score"].abs() >= args.z_threshold) | (b["pct_deviation"].abs() >= args.pct_threshold)]
    a = pd.DataFrame([row for *_, row in topo.alerts])
    cols = ["observed", "baseline", "running_std", "z_score", "pct_deviation"]
    if a.empty or len(a) != len(b):
        failed.append(f"stage2: {len(a)} alerts, batch twin gives {len(b)}")
    else:
        m = a.merge(b, on=["user_id", "window_start"], suffixes=("", "_want"))
        if len(m) != len(b):
            failed.append("stage2: alert keys differ from the batch twin")
        elif not all(np.allclose(m[c], m[c + "_want"], rtol=0, atol=TOL) for c in cols):
            failed.append("stage2: alert values differ from the batch twin")
    # 3. no row was dropped by the watermark
    dropped = sum(
        s.numRowsDroppedByWatermark for p in topo.progress(topo.q1) for s in p.stateOperators
    )
    if dropped:
        failed.append(f"stage1: {dropped} rows dropped by the watermark")
    return failed


def run_stream(spark, run) -> dict:
    src = os.path.join(run.work, "source")
    tmp = os.path.join(run.work, "gen_tmp")
    os.makedirs(src), os.makedirs(tmp)
    t = time.time()
    with run.tracer.span("generator.backlog"):
        backlog = write_backlog(
            run.seed, BACKLOG_SHAPE, src, tmp, 0,
            BACKLOG_WINDOWS // BACKLOG_SHAPE.windows_per_chunk,
        )
    run.notes["stage_s"] = round(time.time() - t, 4)
    topo = Topology(spark, run, src)
    run.ready()
    # phase 1, closed loop: drain the backlog
    start = time.time()
    with run.tracer.span("drain"):
        topo.drain()
    work_s = time.time() - start
    rows = sum(c["rows"] for c in backlog)
    run.notes["backlog"] = f"{rows} rows in {work_s:.4f} s: {rows / work_s:.1f} rows/s"
    # phase 2, open loop: one chunk per interval from a separate process
    n_chunks = int(run.seconds / PACED_INTERVAL_S)
    log = os.path.join(run.work, "gen_log.json")
    start_at = time.time() + 1.0  # after the generator process has imported
    gen = subprocess.Popen(
        [
            sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"),
            "--out", src, "--tmp", tmp, "--log", log, "--seed", str(run.seed),
            "--first-window", str(BACKLOG_WINDOWS), "--chunks", str(n_chunks),
            "--interval", str(PACED_INTERVAL_S), "--start-at", repr(start_at),
            "--shape", json.dumps(SHAPE.__dict__),
        ]
    )
    run.rss.exclude.add(gen.pid)
    try:
        gen.wait(timeout=run.seconds + 60)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    gen_end = time.time()
    with run.tracer.span("final_drain"):
        topo.drain()
    drained = time.time()
    topo.stop()
    with open(log) as f:
        paced = json.load(f)
    for c in paced:
        run.tracer.add("generator.write", c["due"], c["written"], chunk=c["chunk"])
    lateness = [c["written"] - c["due"] for c in paced]
    run.layer["gen.late_p99_s"] = float(np.percentile(lateness, 99))
    # backlog chunks have no due time, so only the paced phase is timed
    chunks = backlog + paced
    latencies = alert_latencies(
        [(ws, d) for _, ws, d, _ in topo.alerts], chunks, WINDOW_S, WATERMARK_S
    )
    p50 = median(latencies)
    value, pct, n = tail(latencies)
    run.notes["latency"] = f"p50 {p50:.4f} s, p{pct:.1f} {value:.4f} s over {n} alerts"
    # each stage's median batch time while the generator ran
    cycle = [
        median(
            p.durationMs.get("triggerExecution", 0) / 1000.0
            for p in topo.progress(q)
            if start_at <= _iso_s(p.timestamp) <= gen_end
        )
        for q in (topo.q1, topo.q2)
    ]
    run.notes["paced_batch_s_p50"] = [round(c, 4) for c in cycle]
    # over capacity: the backlog grew between the middle and the end of the
    # paced phase by more than two stage-1 cycles' worth of chunks
    end_rows = _backlog_rows(topo, paced, gen_end)
    mid_rows = _backlog_rows(topo, paced, (start_at + gen_end) / 2)
    run.layer["gen.backlog_end_rows"] = end_rows
    run.notes["backlog_rows_mid_end"] = [mid_rows, end_rows]
    cycle_rows = paced[0]["rows"] * max(1.0, cycle[0] / PACED_INTERVAL_S)
    run.over_capacity = end_rows - mid_rows > 2 * cycle_rows
    run.notes["final_drain_s"] = round(drained - gen_end, 4)
    run.attempted = len(topo.progress(topo.q1)) + len(topo.progress(topo.q2))
    for name, q in (("window_agg", topo.q1), ("sarimax_baseline", topo.q2)):
        prog = topo.progress(q)
        busy = sum(p.durationMs.get("triggerExecution", 0) for p in prog) / 1000.0
        run.notes[name] = f"{len(prog)} batches, {busy:.3f} s busy"
    with run.tracer.span("checks"):
        run.failures.extend(check_outputs(spark, topo))
    if run.tracer.enabled:
        from trace_layers import stream_layers

        stream_layers(spark, run, topo, chunks)
    return {"work_s": work_s, "latency_p50_s": p50, "latency_tail_s": value}


def _iso_s(ts: str) -> float:
    return pd.Timestamp(ts).timestamp()


def _backlog_rows(topo: Topology, paced: list[dict], at: float) -> int:
    """Rows written by ``at`` minus rows stage 1 had committed by then."""
    written = sum(c["rows"] for c in paced if c["written"] <= at)
    consumed = sum(
        p.numInputRows
        for p in topo.progress(topo.q1)
        if _iso_s(p.timestamp) + p.durationMs.get("triggerExecution", 0) / 1000.0 <= at
        and p.numInputRows
        and _iso_s(p.timestamp) >= paced[0]["due"] - 1.0
    )
    return max(0, written - consumed)
