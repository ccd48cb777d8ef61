"""The traced run's collectors and the per-layer metrics derived from them.

Sources:
- a ``StreamingQueryListener`` keeping every ``onQueryProgress`` of both
  stages, stamped with its arrival wall time;
- Spark's SQL status store (``sharedState().statusStore()``: per-node SQL
  metrics of each execution) and application status store (per-stage
  task, shuffle, spill and memory figures), both readable with the UI off;
- the benchmark's spans around calls into the program (``common.Tracer``);
- the size of ``pipeline._cache._CACHE``;
- the file-level records of the parquet hop: the intermediate's data
  files and stage 2's source log in its checkpoint.

Every name in ``PER_LAYER`` is printed on every workload; a layer a
workload does not run reads 0.
"""

from __future__ import annotations

import json
import os
import re
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from common import END_TO_END, median

_STREAM = (
    "batches", "empty_batch_ratio", "input_rows", "rows_per_s", "batch_s_p50",
    "add_batch_s", "query_planning_s", "latest_offset_s", "wal_commit_s",
    "commit_offsets_s", "state_rows", "state_bytes", "state_commit_s",
)
_UNITS = {
    "batches": "count", "empty_batch_ratio": "ratio", "input_rows": "count",
    "rows_per_s": "rows/s", "state_rows": "count", "state_bytes": "B",
}
PER_LAYER: dict[str, str] = {
    # session, registry
    "session.start_s": "s", "registry.load_s": "s", "registry.queries": "count",
    "warmup_s": "s",
    # the process tree: Python driver, JVM and Python workers
    "peak_rss_mb": "MB",
    # streaming.recipes, stage 1
    **{f"window_agg.{m}": _UNITS.get(m, "s") for m in _STREAM},
    "window_agg.late_dropped_rows": "count", "window_agg.watermark_lag_s": "s",
    "window_agg.emit_latency_p50_s": "s",
    # the parquet hop (to_sink -> file source)
    "hop.files": "count", "hop.bytes": "B", "hop.wait_s_p50": "s",
    # streaming.sarimax, stage 2
    **{f"baseline.{m}": _UNITS.get(m, "s") for m in _STREAM if m != "latest_offset_s"},
    "baseline.emits": "count", "baseline.alerts": "count",
    # the load generator (the paced phase of stream)
    "gen.late_p99_s": "s", "gen.backlog_end_rows": "count",
    # batch_mix: noop wall time per family
    **{f"{fam}.s": "s" for fam in (
        "flagship", "tpch", "windows", "graph", "dedup", "similarity", "text", "pyudf")},
    "batch.total_s": "s", "batch.geomean_s": "s",
    # batch_mix: Spark execution per timed pass, from the status stores
    "batch.plan_s": "s", "batch.eager_jobs": "count", "batch.jobs": "count",
    "batch.stages": "count", "batch.tasks": "count",
    "batch.shuffle_write_bytes": "B", "batch.shuffle_read_bytes": "B",
    "batch.spill_bytes": "B", "batch.scan_rows": "count",
    "batch.peak_exec_mem_bytes": "B", "batch.python_bytes_sent": "B",
    "batch.python_bytes_received": "B", "batch.shuffle_exchanges": "count",
    "batch.broadcast_exchanges": "count",
    # pipeline._cache
    "memo.builds": "count",
    # the end-to-end metrics as measured with tracing on; their gap to an
    # untraced run is the tracing overhead (report.py prints it)
    **{f"traced.{k}": u for k, u in END_TO_END.items()},
    "trace.spans": "count",
}

# --------------------------------------------------------------- streaming


def install_listener(spark, run) -> None:
    """Record every progress event of every streaming query."""
    from pyspark.sql.streaming import StreamingQueryListener

    run.progress = []  # (arrival wall time, StreamingQueryProgress)

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            run.progress.append((time.time(), event.progress))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(Listener())


def _iso_s(ts: str) -> float:
    return pd.Timestamp(ts).timestamp()


def _stage_metrics(prefix: str, events: list, layer: dict) -> None:
    """Per-stage figures from its progress events (one per micro-batch)."""
    progs = [p for _, p in events]
    if not progs:
        return
    dur = [p.durationMs for p in progs]
    busy = sum(d.get("triggerExecution", 0) for d in dur) / 1000.0
    rows = sum(p.numInputRows for p in progs)
    last_state = progs[-1].stateOperators
    layer.update({
        f"{prefix}.batches": len(progs),
        f"{prefix}.empty_batch_ratio": sum(p.numInputRows == 0 for p in progs) / len(progs),
        f"{prefix}.input_rows": rows,
        f"{prefix}.rows_per_s": rows / busy if busy else 0.0,
        f"{prefix}.batch_s_p50": median(d.get("triggerExecution", 0) for d in dur) / 1000.0,
        f"{prefix}.add_batch_s": sum(d.get("addBatch", 0) for d in dur) / 1000.0,
        f"{prefix}.query_planning_s": sum(d.get("queryPlanning", 0) for d in dur) / 1000.0,
        f"{prefix}.wal_commit_s": sum(d.get("walCommit", 0) for d in dur) / 1000.0,
        f"{prefix}.commit_offsets_s": sum(d.get("commitOffsets", 0) for d in dur) / 1000.0,
        f"{prefix}.state_rows": sum(s.numRowsTotal for s in last_state),
        f"{prefix}.state_bytes": max(
            sum(s.memoryUsedBytes for s in p.stateOperators) for p in progs
        ),
        f"{prefix}.state_commit_s": sum(
            s.commitTimeMs for p in progs for s in p.stateOperators
        ) / 1000.0,
    })
    if prefix == "window_agg":
        layer[f"{prefix}.latest_offset_s"] = sum(d.get("latestOffset", 0) for d in dur) / 1000.0


def _trigger_spans(run, name: str, events: list) -> None:
    """Rebuild each micro-batch as a trigger span with one child per
    ``durationMs`` part, laid end to end from the trigger start."""
    tr = run.tracer
    for _, p in events:
        start = _iso_s(p.timestamp)
        d = p.durationMs
        sid = tr.add(f"{name}.trigger", start, start + d.get("triggerExecution", 0) / 1000.0,
                     batch=p.batchId, rows=p.numInputRows)
        at = start
        for part in ("latestOffset", "queryPlanning", "walCommit", "addBatch", "commitOffsets"):
            if d.get(part):
                tr.add(f"{name}.{part}", at, at + d[part] / 1000.0, sid, batch=p.batchId)
                at += d[part] / 1000.0


def _source_log(path: str) -> dict[str, int]:
    """File path -> stage-2 batch id, from the file source's metadata log."""
    out = {}
    for f in os.listdir(path):
        if f.startswith("."):
            continue
        with open(os.path.join(path, f)) as fh:
            for line in fh.read().splitlines()[1:]:
                e = json.loads(line)
                out.setdefault(os.path.basename(e["path"]), e["batchId"])
    return out


def _due_of_close(chunks: list[dict], window_start: int) -> float | None:
    from common import alert_latencies
    from gen import WATERMARK_S, WINDOW_S

    lat = alert_latencies([(window_start, 0.0)], chunks, WINDOW_S, WATERMARK_S)
    return -lat[0] if lat else None


def _await_listener(run, topo, timeout_s: float = 10.0) -> None:
    """Progress events reach the listener asynchronously: wait for each
    stage's last batch."""
    want = {q.name: q.lastProgress.batchId for q in (topo.q1, topo.q2) if q.lastProgress}
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        seen = {}
        for _, p in run.progress:
            seen[p.name] = max(seen.get(p.name, -1), p.batchId)
        if all(seen.get(n, -1) >= b for n, b in want.items()):
            return
        time.sleep(0.05)


def stream_layers(spark, run, topo, chunks: list[dict]) -> None:
    _await_listener(run, topo)
    layer = run.layer
    by_query: dict[str, list] = {"window_agg": [], "sarimax_baseline": []}
    for arrived, p in run.progress:
        by_query.setdefault(p.name, []).append((arrived, p))
    _stage_metrics("window_agg", by_query["window_agg"], layer)
    _stage_metrics("baseline", by_query["sarimax_baseline"], layer)
    for name, events in by_query.items():
        _trigger_spans(run, name, events)
    s1 = [p for _, p in by_query["window_agg"]]
    layer["window_agg.late_dropped_rows"] = sum(
        s.numRowsDroppedByWatermark for p in s1 for s in p.stateOperators
    )
    # watermark lag: newest event time written by the batch's start minus
    # the watermark the batch ran with (event-time seconds)
    lags = []
    for p in s1:
        wm = p.eventTime.get("watermark")
        if not wm or p.numInputRows == 0:
            continue
        t = _iso_s(p.timestamp)
        newest = max((c["max_event_ms"] for c in chunks if (c["due"] or 0) <= t), default=None)
        if newest is not None:
            lags.append(newest / 1000.0 - _iso_s(wm))
    layer["window_agg.watermark_lag_s"] = median(lags) if lags else 0.0
    # the hop: intermediate data files, their write time, and the start of
    # the stage-2 batch that read each one
    files = [f for f in os.listdir(topo.inter) if f.endswith(".parquet")]
    consumed = _source_log(os.path.join(topo.ckpt, "alerts", "sources", "0"))
    s2_start = {p.batchId: _iso_s(p.timestamp) for _, p in by_query["sarimax_baseline"]}
    waits, emits = [], []
    for f in files:
        path = os.path.join(topo.inter, f)
        written = os.path.getmtime(path)
        if consumed.get(f) in s2_start:
            waits.append(s2_start[consumed[f]] - written)
        for ws in set(pq.read_table(path, columns=["window_start"]).column(0).to_pylist()):
            due = _due_of_close(chunks, ws)
            if due is not None:
                emits.append(written - due)
    layer["hop.files"] = len(files)
    layer["hop.bytes"] = sum(os.path.getsize(os.path.join(topo.inter, f)) for f in files)
    layer["hop.wait_s_p50"] = median(waits) if waits else 0.0
    layer["window_agg.emit_latency_p50_s"] = median(emits) if emits else 0.0
    # the alert sink's collect runs stage 2 as a nested execution whose
    # Python-node SQL metrics Spark does not keep, so emits are counted
    # from the checked batch twin (stream == batch is checked)
    layer["baseline.emits"] = topo.emits
    layer["baseline.alerts"] = len(topo.alerts)


# ------------------------------------------------------------ status stores

_UNIT = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^([-0-9.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """A SQL metric's display string as a number (bytes, seconds, count).
    Multi-task metrics read 'total (min, med, max ...)\\n<total> (...)'."""
    if not text:
        return 0.0
    m = _VALUE.match(text.splitlines()[-1].strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1.0)


def _conv(spark):
    return spark._jvm.scala.jdk.javaapi.CollectionConverters


def _executions(spark, after: int) -> list:
    store = spark._jsparkSession.sharedState().statusStore()
    return [e for e in _conv(spark).asJava(store.executionsList()) if e.executionId() > after]


def _last_execution(spark) -> int:
    ids = [e.executionId() for e in _executions(spark, -1)]
    return max(ids, default=-1)


def _sql_node_metrics(spark, keep, after: int = -1) -> dict[str, dict[str, float]]:
    """Plan-node name -> metric name -> value summed over the kept
    executions."""
    conv = _conv(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    out: dict[str, dict[str, float]] = {}
    for e in _executions(spark, after):
        if not keep(e):
            continue
        values = conv.asJava(store.executionMetrics(e.executionId()))
        for node in conv.asJava(store.planGraph(e.executionId()).allNodes()):
            agg = out.setdefault(node.name(), {"count": 0})
            agg["count"] += 1
            for m in conv.asJava(node.metrics()):
                agg[m.name()] = agg.get(m.name(), 0) + parse_metric(values.get(m.accumulatorId()))
    return out


class QueryProbe:
    """Status-store and memo figures for one timed ``batch_mix`` query:
    jobs started inside ``fn`` (eager) and in total, their stages and
    tasks, shuffle/spill/memory per stage, and per-node SQL metrics."""

    def __init__(self, spark, run, name: str):
        from flink_cookbook_spark.pipeline import _cache

        self.spark, self.run, self.name = spark, run, name
        self.tracker = spark.sparkContext.statusTracker()
        self.jobs0 = set(self.tracker.getJobIdsForGroup(None))
        self.exec0 = _last_execution(spark)
        self.memo0 = len(_cache._CACHE)

    def after_fn(self) -> None:
        self.eager = set(self.tracker.getJobIdsForGroup(None)) - self.jobs0

    def done(self, plan_s: float, wall_s: float) -> None:
        from flink_cookbook_spark.pipeline import _cache

        layer = self.run.layer
        jobs = set(self.tracker.getJobIdsForGroup(None)) - self.jobs0
        stages = {s for j in jobs if (info := self.tracker.getJobInfo(j)) for s in info.stageIds}
        app = self.spark.sparkContext._jsc.sc().statusStore()
        add = lambda k, v: layer.__setitem__(k, layer.get(k, 0) + v)  # noqa: E731
        add("batch.plan_s", plan_s)
        add("batch.eager_jobs", len(self.eager))
        add("batch.jobs", len(jobs))
        add("batch.stages", len(stages))
        add("memo.builds", len(_cache._CACHE) - self.memo0)
        for sid in stages:
            try:
                sd = app.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - a skipped stage has no attempt
                continue
            add("batch.tasks", sd.numTasks())
            add("batch.shuffle_write_bytes", sd.shuffleWriteBytes())
            add("batch.shuffle_read_bytes", sd.shuffleReadBytes())
            add("batch.spill_bytes", sd.memoryBytesSpilled() + sd.diskBytesSpilled())
            add("batch.peak_exec_mem_bytes", sd.peakExecutionMemory())
        nodes = _sql_node_metrics(self.spark, lambda e: True, self.exec0)
        for name, agg in nodes.items():
            if name.startswith("Scan"):
                add("batch.scan_rows", agg.get("number of output rows", 0))
            add("batch.python_bytes_sent", agg.get("data sent to Python workers", 0))
            add("batch.python_bytes_received", agg.get("data returned from Python workers", 0))
        add("batch.shuffle_exchanges", nodes.get("Exchange", {}).get("count", 0))
        add("batch.broadcast_exchanges", nodes.get("BroadcastExchange", {}).get("count", 0))


# ------------------------------------------------------------------ output

_PER_PASS = (
    "batch.plan_s", "batch.eager_jobs", "batch.jobs", "batch.stages", "batch.tasks",
    "batch.shuffle_write_bytes", "batch.shuffle_read_bytes", "batch.spill_bytes",
    "batch.scan_rows", "batch.peak_exec_mem_bytes", "batch.python_bytes_sent",
    "batch.python_bytes_received", "batch.shuffle_exchanges",
    "batch.broadcast_exchanges", "memo.builds",
)


def finish_layers(run, metrics: dict) -> dict[str, float]:
    """Every per-layer metric of the traced run, with 0 for layers the
    workload does not run."""
    layer = dict(run.layer)
    passes = run.notes.get("passes")
    if passes:  # the status-store sums cover every timed pass
        for k in _PER_PASS:
            layer[k] = layer.get(k, 0) / passes
    durations = {}
    for s in run.tracer.spans:
        durations.setdefault(s["name"], s["end"] - s["start"])
    layer["session.start_s"] = durations.get("get_spark", 0.0)
    layer["registry.load_s"] = durations.get("all_specs", 0.0)
    layer["warmup_s"] = durations.get("warmup", 0.0)
    layer["registry.queries"] = run.notes.get("queries", 0)
    layer["peak_rss_mb"] = metrics["peak_rss_mb"]
    for k in END_TO_END:
        layer[f"traced.{k}"] = metrics[k]
    layer["trace.spans"] = len(run.tracer.spans)
    self_times = run.tracer.self_times()
    run.notes["self_s"] = {k: round(v, 4) for k, v in sorted(
        self_times.items(), key=lambda kv: -kv[1])[:12]}
    return {k: float(np.nan_to_num(layer.get(k, 0.0))) for k in PER_LAYER}
