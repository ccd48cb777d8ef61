"""Streaming twins tested against their batch oracles (SURVEY.md section
5.2.3): a static parquet directory drives each streaming query to
completion through a memory sink, then results are compared with the
identical batch expressions."""

from __future__ import annotations

import contextlib
import os
import re

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_dir, tmp_path_factory):
    """Streaming-readable copy of events with a stable (nanos-free)
    schema: readStream needs an explicit schema + directory input."""
    from flink_cookbook_spark.catalog import load

    out = str(tmp_path_factory.mktemp("events_stream"))
    load(spark, sf_dir, "events").write.mode("overwrite").parquet(out)
    return out


def _read_stream(spark, path):
    static = spark.read.parquet(path)
    return spark.readStream.schema(static.schema).parquet(path)


def _run_to_memory(df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()


@contextlib.contextmanager
def _state_partitions(spark, n):
    """Streaming queries started inside run at ``n`` state-store
    partitions. A query clones the session conf at ``start()`` and a
    checkpoint keeps the width of its first start, so restoring the conf
    afterwards leaves started queries and checkpoints alone."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _metrics_view(stream_df):
    """events -> the pipeline's metric shape (node/cpu naming)."""
    return stream_df.select(
        F.col("user_id").cast("string").alias("node_id"),
        F.col("ts"),
        F.col("value").alias("cpu"),
        (F.col("ts").cast("long") * 1000).alias("event_time"),
    )


def test_streaming_window_agg_equals_batch(spark, sf_dir, events_stream_dir):
    """W1/W2: streaming event-time tumble == the batch twin on the same
    data (closed windows only — all close because input is finite)."""
    from flink_cookbook_spark.streaming.recipes import windowed_avg_stream

    stream = windowed_avg_stream(_metrics_view(_read_stream(spark, events_stream_dir)))
    _run_to_memory(stream, "win_agg")
    got = {
        (int(r.user_id), r.window_start): (round(r.avg_value, 6), r.n_events)
        for r in spark.sql("SELECT * FROM win_agg").collect()
    }
    batch = (
        spark.read.parquet(events_stream_dir)
        .groupBy(F.window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.avg("value").alias("avg_value"), F.count("*").alias("n"))
        .select(
            F.col("user_id"), F.col("w.start").cast("long").alias("ws"), "avg_value", "n"
        )
    )
    want = {(int(r.user_id), r.ws): (round(r.avg_value, 6), r.n) for r in batch.collect()}
    # the streaming side legitimately withholds windows not yet closed by
    # the watermark (the tail of the finite input); everything closed must
    # match the batch twin exactly.
    max_ts = spark.read.parquet(events_stream_dir).agg(F.max(F.col("ts").cast("long"))).collect()[0][0]
    horizon = max_ts - 600  # 10-minute watermark
    missing = set(want) - set(got)
    assert all(ws + 300 > horizon for _, ws in missing), f"closed windows missing: {missing}"
    for k in got:
        assert got[k] == want[k]
    assert len(got) > 100


def test_streaming_session_window(spark, events_stream_dir):
    from flink_cookbook_spark.streaming.recipes import session_window_stream

    stream = session_window_stream(_metrics_view(_read_stream(spark, events_stream_dir)))
    _run_to_memory(stream, "sessions")
    rows = spark.sql("SELECT * FROM sessions").collect()
    assert rows
    for r in rows:
        assert r.session_end >= r.session_start
        assert r.n_events >= 1


def test_sliding_window_stream_equals_batch_twin(spark, sf_dir, events_stream_dir):
    """Sliding windows (10 min, 5 min slide): the stream emits exactly
    the windows its final watermark closed, and each equals the
    ``sliding_window_agg`` batch twin, averages compared after ``rnd``."""
    from flink_cookbook_spark.operators.windows import sliding_window_agg
    from flink_cookbook_spark.registry import rnd
    from flink_cookbook_spark.streaming.recipes import sliding_window_stream

    stream = sliding_window_stream(_metrics_view(_read_stream(spark, events_stream_dir)))
    _run_to_memory(stream, "sliding")
    got = {
        (int(r.node_id), r.window_start, r.window_end): r.avg_value
        for r in spark.table("sliding").select(
            "node_id", "window_start", "window_end", rnd("avg_value").alias("avg_value")
        ).collect()
    }
    # the final watermark lies in [max_ts - 600, max_ts - 599) seconds
    # (10-minute delay), so a window is closed iff it ends at or before
    # max_ts - 600
    max_ts = spark.read.parquet(events_stream_dir).agg(F.max(F.col("ts").cast("long"))).collect()[0][0]
    want = {
        (r.user_id, r.window_start, r.window_end): r.avg_value
        for r in sliding_window_agg(spark, sf_dir).collect()
        if r.window_end <= max_ts - 600
    }
    assert len(want) > 100
    assert got == want


def test_streaming_dedup(spark, events_stream_dir):
    from flink_cookbook_spark.streaming.recipes import dedup_stream

    base = _metrics_view(_read_stream(spark, events_stream_dir))
    doubled = base.union(base)  # duplicate every record
    _run_to_memory(dedup_stream(doubled), "dedup")
    n_dedup = spark.sql("SELECT count(*) AS n FROM dedup").collect()[0].n
    n_src = spark.read.parquet(events_stream_dir).count()
    assert n_dedup == n_src


@pytest.fixture(scope="module")
def windowed_stage_dir(spark, events_stream_dir, tmp_path_factory):
    """Stage 1 of the two-stage pipeline: the streaming window aggregate
    materialized to a durable intermediate (Spark does not allow a second
    stateful operator after a streaming aggregation in one query — the
    production shape is window-agg query -> parquet/kafka -> model query)."""
    from flink_cookbook_spark.streaming.recipes import to_sink

    win = (
        _read_stream(spark, events_stream_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.round(F.avg("value") + F.lit(1e-9), 4).alias("avg_value"))
        .select(F.col("w.start").cast("long").alias("window_start"), "user_id", "avg_value")
    )
    out = str(tmp_path_factory.mktemp("windowed_stage"))
    ckpt = str(tmp_path_factory.mktemp("windowed_ckpt"))
    q = to_sink(win, fmt="parquet", query_name="win_stage", checkpoint=ckpt, path=out)
    q.processAllAvailable()
    q.stop()
    return out


def test_streaming_baseline_equals_batch_twin(spark, windowed_stage_dir):
    """M3: applyInPandasWithState over the streamed window series emits
    exactly the batch twin's records on the same input, every column
    equal: both replay the same per-sample step."""
    from flink_cookbook_spark.streaming.sarimax import baseline_batch, baseline_streaming

    win_stream = _read_stream(spark, windowed_stage_dir)
    _run_to_memory(baseline_streaming(win_stream), "baselines_s")
    got = sorted(spark.sql("SELECT * FROM baselines_s").collect())
    want = sorted(baseline_batch(spark.read.parquet(windowed_stage_dir)).collect())
    assert got and got == want


def test_streaming_alerts_pipeline(spark, windowed_stage_dir):
    """alerts_stream alerts on the baseline operator's emission windows
    only: its alerts are exactly the every-window alerts of
    continuous_alerts_stream whose baseline was emitted at the window
    itself, equal on every shared column."""
    from flink_cookbook_spark.streaming.recipes import (
        alerts_stream,
        continuous_alerts_stream,
    )

    _run_to_memory(alerts_stream(_read_stream(spark, windowed_stage_dir)), "alerts_s")
    _run_to_memory(
        continuous_alerts_stream(_read_stream(spark, windowed_stage_dir)), "alerts_every"
    )
    on_emit, every = spark.table("alerts_s"), spark.table("alerts_every")
    shared = [c for c in every.columns if c in on_emit.columns]
    assert len(shared) == 9
    got = sorted(on_emit.select(*shared).collect())
    want = sorted(
        every.where("baseline_window_start = window_start").select(*shared).collect()
    )
    assert got and got == want
    assert every.count() > len(want)  # and alerts on the windows between


def test_continuous_alerts_stream_thresholds(spark, windowed_stage_dir):
    """continuous_alerts_stream at non-default thresholds equals
    score_alerts at those thresholds over the batch as-of rows: every
    window with its key's latest batch baseline at or before it."""
    from flink_cookbook_spark.operators.metrics import ALERT_COLS, asof_join, score_alerts
    from flink_cookbook_spark.streaming.recipes import continuous_alerts_stream
    from flink_cookbook_spark.streaming.sarimax import baseline_batch

    knobs = {"z_threshold": 2.0, "pct_threshold": 25.0, "min_baseline": 5.0}
    _run_to_memory(
        continuous_alerts_stream(_read_stream(spark, windowed_stage_dir), **knobs),
        "alerts_knobs",
    )
    win = spark.read.parquet(windowed_stage_dir)
    rows = asof_join(
        win,
        baseline_batch(win).select("user_id", "window_start", "baseline", "running_std"),
        key="user_id",
        left_ts="window_start",
        right_ts="window_start",
        value_cols=["baseline", "running_std"],
    ).select(
        "user_id",
        "window_start",
        F.col("avg_value").alias("observed"),
        F.col("baseline_asof").alias("baseline"),
        F.col("running_std_asof").alias("running_std"),
        F.col("window_start_asof").alias("baseline_window_start"),
    )
    want = sorted(score_alerts(rows, **knobs).select(*ALERT_COLS).collect())
    assert sorted(spark.table("alerts_knobs").collect()) == want
    assert len(want) > score_alerts(rows).count()  # the knobs change the alerts


def test_model_keys_by_node_id(spark, tmp_path):
    """The model operator keys on the input's key, here a string node id:
    two node ids whose old model key, pmod(xxhash64(node_id), 1e6),
    collides get two independent baselines, each equal to its own
    single-key replay and keyed by the node id."""
    import numpy as np
    import pandas as pd

    from flink_cookbook_spark.streaming.sarimax import (
        BASELINE_COLS,
        FIXTURE_CONFIG,
        _KeyState,
        baseline_streaming,
        replay_key,
    )

    pair = ["node-1942", "node-4010"]
    old_keys = spark.createDataFrame([(n,) for n in pair], "node_id string").select(
        F.pmod(F.xxhash64("node_id"), F.lit(1_000_000))
    )
    assert old_keys.distinct().count() == 1
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        [(n, 300 * t, float(rng.normal(30 + 30 * i, 5))) for i, n in enumerate(pair)
         for t in range(60)],
        columns=["user_id", "window_start", "avg_value"],
    )
    src = str(tmp_path / "win")
    schema = "user_id string, window_start long, avg_value double"
    spark.createDataFrame(pdf, schema).coalesce(1).write.parquet(src)
    _run_to_memory(
        baseline_streaming(spark.readStream.schema(schema).parquet(src)), "baselines_node"
    )
    got = spark.table("baselines_node")
    assert dict(got.dtypes)["user_id"] == "string"
    want = [
        tuple(r[c] for c in BASELINE_COLS)
        for n, g in pdf.groupby("user_id")
        for r in replay_key(_KeyState(), n, g, FIXTURE_CONFIG)
    ]
    assert {r[0] for r in want} == set(pair)
    assert sorted(tuple(r) for r in got.collect()) == sorted(want)


def test_default_session_widths(spark):
    """get_spark() defaults: streaming state on one partition (the
    reference's job parallelism), batch shuffles at the core count
    through AQE's initial partition number."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
    assert spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    ) == str(cpus)
    # a batch exchange is planned at the core count, before AQE coalesces
    plan = (
        spark.range(100).withColumn("k", F.col("id") % 7).groupBy("k").count()
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert re.search(rf"hashpartitioning\(k#\d+L, {cpus}\), ENSURE_REQUIREMENTS", plan), plan


@pytest.mark.parametrize("alerts", ["alerts_stream", "continuous_alerts_stream"])
def test_alerts_stream_width_independent_and_restart_parity(
    spark, windowed_stage_dir, tmp_path, alerts
):
    """Both baseline -> alert queries emit the same alerts at 1 and 4
    state partitions. A checkpoint started at 4 partitions, stopped
    and restarted under the default session over more input keeps its 4
    partitions (Spark reads the width from the checkpoint) and emits
    exactly an uninterrupted run's alerts: no duplicates, no gaps."""
    from flink_cookbook_spark.streaming import recipes

    alerts_stream = getattr(recipes, alerts)
    win = spark.read.parquet(windowed_stage_dir)
    rows = win.orderBy("window_start", "user_id").collect()
    split = rows[len(rows) // 2].window_start

    def run(src, name):
        out, ckpt = str(tmp_path / name), str(tmp_path / f"{name}_ckpt")
        q = (
            alerts_stream(spark.readStream.schema(win.schema).parquet(src))
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        width = q.lastProgress["stateOperators"][0]["numShufflePartitions"]
        return sorted(tuple(r) for r in spark.read.parquet(out).collect()), width

    want, width = run(windowed_stage_dir, "one")
    assert width == 1
    assert len({r[0] for r in want}) > 1  # alerts from several keys
    with _state_partitions(spark, 4):
        got, width = run(windowed_stage_dir, "four")
    assert width == 4
    assert got == want

    # restart: first half at 4 partitions, the rest under the default
    src = str(tmp_path / "src")
    win.where(F.col("window_start") < split).coalesce(1).write.parquet(src)
    with _state_partitions(spark, 4):
        first, _ = run(src, "restart")
    assert 0 < len(first) < len(want)
    win.where(F.col("window_start") >= split).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    got, width = run(src, "restart")
    assert width == 4
    keys = [(r[0], r[1]) for r in got]
    assert len(keys) == len(set(keys))
    assert got == want


def test_synthetic_generator_value_model(spark):
    """S2/S3 twin properties: values clamped to [0,100], deterministic
    across runs (same seed), hour-of-day seasonality visible."""
    from flink_cookbook_spark.streaming.sources import synthetic_metrics_batch

    a = synthetic_metrics_batch(spark, n_rows=5000).collect()
    b = synthetic_metrics_batch(spark, n_rows=5000).collect()
    assert [r.cpu for r in a] == [r.cpu for r in b]  # rand(seed) determinism
    assert all(0.0 <= r.cpu <= 100.0 for r in a)
    assert len({r.node_id for r in a}) == 5


def test_synthetic_generator_names_every_node(spark):
    """Node ids are zero-padded to two digits, never truncated: 150
    nodes give 150 distinct ids."""
    from flink_cookbook_spark.streaming.sources import synthetic_metrics_batch

    ids = {r.node_id for r in synthetic_metrics_batch(spark, n_rows=300, n_nodes=150).collect()}
    assert len(ids) == 150
    assert {"node-07", "node-99", "node-123"} <= ids


def test_json_wire_roundtrip_lossless(spark):
    """S3 serialize -> P1 parse is lossless over the wire format."""
    from flink_cookbook_spark.streaming.sources import (
        metrics_to_json,
        parse_metrics,
        synthetic_metrics_batch,
    )

    gen = synthetic_metrics_batch(spark, n_rows=1000)
    parsed = parse_metrics(metrics_to_json(gen))
    src = [(r.node_id, r.cpu, r.event_time) for r in gen.collect()]
    rt = [(r.node_id, r.cpu, r.event_time) for r in parsed.collect()]
    assert sorted(src) == sorted(rt)


def test_parse_metrics_drops_invalid(spark):
    """P1 drop semantics: malformed JSON and missing required fields are
    dropped (the reference throws per record; from_json nulls + filter)."""
    from flink_cookbook_spark.streaming.sources import parse_metrics

    raw = spark.createDataFrame(
        [
            ('{"node_id": "n1", "cpu_utilization": 55.5, "timestamp": 123}',),
            ('{"node_id": "n2", "cpu_utilization": 10.0}',),  # ts defaults 0
            ('{"cpu_utilization": 1.0}',),  # missing node_id -> drop
            ('{"node_id": "n3"}',),  # missing cpu -> drop
            ("not json at all",),  # corrupt -> drop
        ],
        ["value"],
    )
    rows = {r.node_id: (r.cpu, r.event_time) for r in parse_metrics(raw).collect()}
    assert rows == {"n1": (55.5, 123), "n2": (10.0, 0)}


def test_continuous_alerts_stream_equals_flagship(spark, sf_dir, tmp_path):
    """J1+J2 on every window: the windowed memo fed to
    continuous_alerts_stream in three triggers, with a stop and a restart
    from the checkpoint before the third, gives exactly the batch
    flagship's alerts, on every column."""
    from flink_cookbook_spark.operators.metrics import _windowed
    from flink_cookbook_spark.streaming.recipes import continuous_alerts_stream
    from flink_cookbook_spark.streaming.sarimax import pipeline_alerts_end_to_end

    win = _windowed(spark, sf_dir)
    starts = sorted(r[0] for r in win.select("window_start").distinct().collect())
    cuts = [starts[len(starts) // 3], starts[2 * len(starts) // 3]]
    chunks = [
        win.where(F.col("window_start") < cuts[0]),
        win.where(F.col("window_start").between(cuts[0], cuts[1] - 1)),
        win.where(F.col("window_start") >= cuts[1]),
    ]
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))

    def start():
        return (
            continuous_alerts_stream(spark.readStream.schema(win.schema).parquet(src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    for i, chunk in enumerate(chunks):
        chunk.coalesce(1).write.mode("append").parquet(src)
        if i == 0:
            q = start()
        if i == 2:  # "crash" and restart from the checkpoint
            q.stop()
            q = start()
        q.processAllAvailable()
    q.stop()
    commits = [f for f in os.listdir(os.path.join(ckpt, "commits")) if f.isdigit()]
    assert sorted(commits) == ["0", "1", "2"]  # one micro-batch per chunk

    got, want = spark.read.parquet(out), pipeline_alerts_end_to_end(spark, sf_dir)
    assert got.dtypes == want.dtypes
    assert sorted(got.collect()) == sorted(want.collect())


def test_cli_batch_mode_runs(spark, capsys):
    """C1: the reference's launch surface end-to-end in batch datagen
    mode (small run)."""
    from flink_cookbook_spark.cli import run

    rc = run([
        "--mode", "batch", "--use-datagen",
        "--nodes", "3", "--rate", "2.0", "--duration-seconds", "900",
        "--max-history", "48", "--min-history", "6", "--emit-every-n", "5",
        "--order", "1,1,1", "--seasonal-order", "0,1,1,6",
    ])
    assert rc == 0
    assert "baseline" in capsys.readouterr().out


def test_cli_validator_rejects_bad_order():
    import pytest

    from flink_cookbook_spark.cli import build_parser, config_from_args

    # malformed, or an order the engine does not implement (it would be
    # silently ignored): (1,1,1)x(0,1,1,s) with a one-step forecast only
    for argv in (
        ["--order", "1,2"],
        ["--order", "2,1,1"],
        ["--seasonal-order", "1,1,1,288"],
        ["--forecast-steps", "2"],
    ):
        with pytest.raises(SystemExit):
            build_parser().parse_args(argv)
    args = build_parser().parse_args(["--seasonal-order", "0,1,1,12"])
    assert config_from_args(args).season == 12


def test_stream_stream_join(spark, events_stream_dir):
    """Stream-stream inner join with watermarked time-range condition ==
    the equivalent batch join on the same data (within closed horizons)."""
    from flink_cookbook_spark.streaming.recipes import stream_stream_enrichment_join

    raw = _metrics_view(_read_stream(spark, events_stream_dir))
    # second stream: per-key 'baselines' = the same events, values halved,
    # acting as a keyed changelog stream
    baselines = _read_stream(spark, events_stream_dir).select(
        F.col("user_id").cast("string").alias("node_id"),
        F.col("ts").alias("bts"),
        (F.col("value") / 2).alias("baseline"),
    )
    joined = stream_stream_enrichment_join(raw, baselines)
    _run_to_memory(joined, "ss_join")
    got = spark.sql("SELECT count(*) AS n FROM ss_join").collect()[0].n

    static = spark.read.parquet(events_stream_dir)
    r = static.select(
        F.col("user_id").alias("k"), F.col("ts").alias("rts"), F.col("value")
    )
    b = static.select(
        F.col("user_id").alias("k2"), F.col("ts").alias("bts"), (F.col("value") / 2).alias("bv")
    )
    want = (
        r.join(b, (F.col("k") == F.col("k2")))
        .where(
            (F.col("bts") <= F.col("rts"))
            & (F.col("bts") >= F.col("rts") - F.expr("INTERVAL 15 minutes"))
        )
        .count()
    )
    # stream side may withhold pairs near the un-closed tail; everything
    # else must be present (joined rows are a subset of the batch join)
    assert got <= want
    assert got >= int(want * 0.9), (got, want)


def test_dedup_within_watermark(spark, events_stream_dir):
    """Duplicates with jittered timestamps (late re-delivery) collapse
    under dropDuplicatesWithinWatermark."""
    from flink_cookbook_spark.streaming.recipes import dedup_stream_within_watermark

    base = _metrics_view(_read_stream(spark, events_stream_dir))
    jittered = base.withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 second"))
    _run_to_memory(dedup_stream_within_watermark(base.union(jittered)), "dedup_ww")
    n = spark.sql("SELECT count(*) AS n FROM dedup_ww").collect()[0].n
    n_src = spark.read.parquet(events_stream_dir).count()
    assert n == n_src


def test_multi_batch_state_continuity(spark, windowed_stage_dir, tmp_path):
    """State must persist ACROSS micro-batches: feed the windowed series
    in three time-ordered chunks (separate triggers) and require the
    stateful baseline operator to emit exactly the batch twin's records."""
    from flink_cookbook_spark.streaming.sarimax import baseline_batch, baseline_streaming

    win = spark.read.parquet(windowed_stage_dir).orderBy("window_start")
    rows = win.collect()
    thirds = [rows[: len(rows) // 3], rows[len(rows) // 3 : 2 * len(rows) // 3], rows[2 * len(rows) // 3 :]]
    # one part-file per chunk: parquet part files commit via rename, so a
    # continuously-triggering file source sees each chunk atomically and
    # never splits it mid-write across micro-batches in file order
    src = str(tmp_path / "chunked")

    spark.createDataFrame(thirds[0], schema=win.schema).coalesce(1).write.mode("overwrite").parquet(src)

    q_base = (
        baseline_streaming(spark.readStream.schema(win.schema).parquet(src))
        .writeStream.format("memory").queryName("baselines_mb").outputMode("append")
        .start()
    )
    q_base.processAllAvailable()
    for chunk in thirds[1:]:
        spark.createDataFrame(chunk, schema=win.schema).coalesce(1).write.mode("append").parquet(src)
        q_base.processAllAvailable()
    q_base.stop()

    got = sorted(spark.sql("SELECT * FROM baselines_mb").collect())
    want = sorted(baseline_batch(spark.read.parquet(windowed_stage_dir)).collect())
    assert got and got == want, (len(got), len(want))


def test_update_mode_aggregation(spark, events_stream_dir):
    """Update output mode: per-key counts re-emitted as batches arrive —
    the reference's continuously-updating baseline view shape."""
    counts = (
        _metrics_view(_read_stream(spark, events_stream_dir))
        .groupBy("node_id")
        .agg(F.count("*").alias("n"), F.avg("cpu").alias("avg_cpu"))
    )
    q = (
        counts.writeStream.format("memory").queryName("upd_counts")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.processAllAvailable(); q.stop()
    got = {r.node_id: r.n for r in spark.sql(
        "SELECT node_id, max(n) AS n FROM upd_counts GROUP BY node_id"
    ).collect()}
    want = {
        str(r.user_id): r.n
        for r in spark.read.parquet(events_stream_dir)
        .groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == want


def test_rate_micro_batch_source_deterministic(spark):
    """rate-micro-batch: replayable deterministic timestamps."""
    from flink_cookbook_spark.streaming.sources import synthetic_metrics_stream

    def run(name):
        df = synthetic_metrics_stream(spark, rows_per_second=50, micro_batch=True)
        q = (
            df.writeStream.format("memory").queryName(name)
            .outputMode("append").start()
        )
        # a few micro-batches, then stop
        import time as _t
        _t.sleep(3)
        q.stop()
        out = {}
        for r in spark.sql(f"SELECT * FROM {name}").collect():
            out.setdefault(r.ts, []).append((r.node_id, r.cpu))
        return {k: sorted(v) for k, v in out.items()}

    a, b = run("rmb_a"), run("rmb_b")
    # rate-micro-batch gives a fixed ts grid, and the md5-PRF value model
    # depends only on (node_id, ts) content — so replays agree VALUE-
    # exactly on every shared timestamp, not just structurally.
    common = set(a) & set(b)
    assert common and min(a) == min(b), "runs must share the fixed ts grid"
    for k in common:
        assert a[k] == b[k], f"replay diverged at ts {k}"
        assert all(0.0 <= c <= 100.0 for _, c in a[k])  # clamp holds


def test_cli_stream_mode_runs(spark, tmp_path, monkeypatch):
    """C1 stream mode: the chained two-query topology (window agg ->
    parquet intermediate keyed by node id -> every-window model operator
    -> alert filter -> console) starts, runs for the requested duration
    and shuts down cleanly, with the CLI's thresholds in stage 2."""
    from flink_cookbook_spark.cli import run
    from flink_cookbook_spark.operators.metrics import ALERT_COLS
    from flink_cookbook_spark.streaming import recipes

    real, started = recipes.to_sink, {}

    def to_sink(df, **kw):
        started[kw["query_name"]] = (df, kw["fmt"], real(df, **kw))
        return started[kw["query_name"]][2]

    monkeypatch.setattr(recipes, "to_sink", to_sink)
    rc = run([
        "--mode", "stream", "--use-datagen",
        "--nodes", "3", "--rate", "20", "--duration-seconds", "8",
        "--checkpoint-dir", str(tmp_path / "ckpt"),
        "--max-history", "8", "--min-history", "2", "--emit-every-n", "2",
        "--seasonal-order", "0,1,1,2", "--z-threshold", "2.5",
    ])
    assert rc == 0
    windowed, _, _ = started["window_agg"]
    assert dict(windowed.dtypes)["user_id"] == "string"
    alerts, fmt, q = started["sarimax_baseline"]
    assert fmt == "console" and alerts.columns == ALERT_COLS
    plan = alerts._jdf.queryExecution().analyzed().toString()
    assert plan.count("FlatMapGroupsInPandasWithState") == 1, plan
    assert re.search(r"abs\(z_score#\d+\) >= 2\.5", plan), plan
    assert q.recentProgress  # stage 2 ran
    ckpt = tmp_path / "ckpt" / "windowed"
    last = max(int(f.name) for f in (ckpt / "offsets").iterdir() if f.name.isdigit())
    assert (ckpt / "commits" / str(last)).exists(), f"stage 1 batch {last} aborted"


def test_stream_static_join(spark, events_stream_dir):
    """Stream-static join is stateless, so once the stream drains the
    result equals the batch join EXACTLY (not a subset)."""
    from flink_cookbook_spark.streaming.recipes import stream_static_enrichment_join

    static = spark.read.parquet(events_stream_dir)
    dim = (
        static.select(F.col("user_id").cast("string").alias("node_id"))
        .distinct()
        .withColumn("tier", (F.col("node_id").cast("long") % 3).cast("int"))
    )
    raw = _metrics_view(_read_stream(spark, events_stream_dir))
    joined = stream_static_enrichment_join(raw, dim)
    _run_to_memory(joined, "ss_static_join")
    got = spark.sql(
        "SELECT count(*) AS n, sum(tier) AS s FROM ss_static_join"
    ).collect()[0]

    want_rows = static.count()
    want_tier = (
        static.select(((F.col("user_id") % 3)).alias("t")).agg(F.sum("t")).collect()[0][0]
    )
    assert got.n == want_rows
    assert got.s == want_tier


def test_cli_run_query_and_list(spark, sf_dir, capsys):
    """--list-queries prints the full registry; --run-query executes a
    registered operator against an explicit fixture dir."""
    from flink_cookbook_spark.cli import run
    from flink_cookbook_spark.registry import all_specs

    assert run(["--list-queries"]) == 0
    out = capsys.readouterr().out
    assert len(out.strip().splitlines()) == len(all_specs())
    assert "zscore_flags" in out

    assert run(["--run-query", "welford_moments", "--sf-dir", sf_dir]) == 0
    assert "running_mean" in capsys.readouterr().out

    assert run(["--run-query", "nope_not_a_query", "--sf-dir", sf_dir]) == 2


def test_streaming_daily_actives_equals_batch(spark, sf_dir, tmp_path):
    """Streaming daily-distinct-actives (watermarked dropDuplicates on
    (user, day) then a windowed count) must emit exactly the batch
    DAU — the streaming face of ``new_vs_returning``/
    ``rolling_active_users``'s first stage.

    Source layout makes the comparison exact: one time-SORTED data file
    (no out-of-order arrivals to drop) followed by a far-future sentinel
    file whose only job is to advance the watermark past every real
    window so append mode emits them all."""
    from flink_cookbook_spark.catalog import load

    src = tmp_path / "dau_src"
    src.mkdir()
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    ev.orderBy("ts").coalesce(1).write.parquet(str(src / "part=000"))
    spark.createDataFrame(
        [(-1, "2030-01-01 00:00:00")], "user_id long, ts_s string"
    ).select("user_id", F.to_timestamp("ts_s").alias("ts")).coalesce(1).write.parquet(
        str(src / "part=999")
    )
    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    user_days = (
        stream.withWatermark("ts", "1 day")
        .select(F.col("user_id"), F.window("ts", "1 day").alias("w"))
        .dropDuplicates(["user_id", "w"])
        .groupBy("w")
        .agg(F.count("*").alias("active_users"))
        .select(F.col("w.start").cast("long").alias("day_start"), "active_users")
    )
    _run_to_memory(user_days, "dau_stream")
    sentinel_cut = 1_800_000_000  # well past the fixture, before 2030
    got = {
        r.day_start: r.active_users
        for r in spark.sql("SELECT * FROM dau_stream").collect()
        if r.day_start < sentinel_cut
    }
    want = {
        r.day_start: r.active_users
        for r in (
            ev.select("user_id", F.window("ts", "1 day").alias("w"))
            .dropDuplicates(["user_id", "w"])
            .groupBy("w")
            .agg(F.count("*").alias("active_users"))
            .select(F.col("w.start").cast("long").alias("day_start"), "active_users")
            .collect()
        )
    }
    assert got == want and len(got) > 0


def test_stream_stream_left_outer_join(spark, events_stream_dir):
    """LEFT OUTER stream-stream join: keys WITH baselines match exactly
    the inner-join rows; keys WITHOUT baselines (odd user ids here) are
    released as null-baseline rows once the watermark closes their
    horizon — never dropped, never matched."""
    from flink_cookbook_spark.streaming.recipes import stream_stream_left_outer_join

    raw = _metrics_view(_read_stream(spark, events_stream_dir))
    baselines = (
        _read_stream(spark, events_stream_dir)
        .where(F.col("user_id") % 2 == 0)  # odd keys get NO baseline stream
        .select(
            F.col("user_id").cast("string").alias("node_id"),
            F.col("ts").alias("bts"),
            (F.col("value") / 2).alias("baseline"),
        )
    )
    joined = stream_stream_left_outer_join(raw, baselines)
    _run_to_memory(joined, "ss_left_join")
    rows = spark.sql("SELECT * FROM ss_left_join").collect()
    matched = [r for r in rows if r.baseline is not None]
    nulls = [r for r in rows if r.baseline is None]
    # matched rows only ever carry even keys; null rows only odd keys
    # (an even-key raw row always has its own baseline twin at lag 0)
    assert matched and all(int(r.node_id) % 2 == 0 for r in matched)
    assert nulls and all(int(r.node_id) % 2 == 1 for r in nulls)

    static = spark.read.parquet(events_stream_dir)
    n_odd_raw = static.where(F.col("user_id") % 2 == 1).count()
    # outer release is watermark-gated: the un-closed tail may withhold
    # some null rows, but the bulk must be out
    assert len(nulls) <= n_odd_raw
    assert len(nulls) >= int(n_odd_raw * 0.5), (len(nulls), n_odd_raw)


def test_streaming_session_window_dynamic_gap(spark, events_stream_dir):
    """Dynamic-gap session windows: sessions close, events are conserved,
    and a session whose peak cpu stayed <= 80 can never outlive the
    short gap's reach (its end - last event <= 15 min by construction)."""
    from flink_cookbook_spark.streaming.recipes import session_window_stream_dynamic

    stream = session_window_stream_dynamic(
        _metrics_view(_read_stream(spark, events_stream_dir))
    )
    _run_to_memory(stream, "dyn_sessions")
    rows = spark.sql("SELECT * FROM dyn_sessions").collect()
    assert rows
    n_events_total = sum(r.n_events for r in rows)
    n_src = spark.read.parquet(events_stream_dir).count()
    # conservation up to the un-finalized tail: append mode only emits a
    # session once the watermark proves it closed, so the last session(s)
    # per node may be withheld at end-of-stream
    assert n_events_total <= n_src
    assert n_events_total >= int(n_src * 0.95), (n_events_total, n_src)
    for r in rows:
        assert r.session_end > r.session_start
        span = r.session_end - r.session_start
        # a session extends at most gap past its last event: cool sessions
        # are bounded by n_events * 15 min worth of chaining + one gap
        max_gap = 3600 if r.max_cpu > 80 else 900
        assert span <= r.n_events * max_gap + max_gap, (span, r)


def test_dynamic_session_stream_equals_batch_twin(spark, sf_dir, events_stream_dir):
    """session_window(ts, <gap by event_type>) == sessionize_dynamic_gap:
    an event at t extends its session to t + gap(event); the next event
    merges iff t' - t <= gap(previous) — exactly the batch twin's
    boundary rule, so the PARTITION of events into sessions (keyed by
    user and session start, sized by event count) must be identical.
    Streaming append mode may withhold the watermark-open tail; every
    emitted session must match the batch partition exactly."""
    from flink_cookbook_spark.operators.windows import (
        DYNAMIC_GAP_DEFAULT,
        DYNAMIC_GAPS,
        sessionize_dynamic_gap,
    )

    gap = F.coalesce(
        *[
            F.when(F.col("event_type") == k, F.lit(f"{v} seconds"))
            for k, v in sorted(DYNAMIC_GAPS.items())
        ],
        F.lit(f"{DYNAMIC_GAP_DEFAULT} seconds"),
    )
    stream = (
        _read_stream(spark, events_stream_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("session_start"),
            "n_events",
        )
    )
    _run_to_memory(stream, "dyn_twin_sessions")
    got = {
        (r.user_id, r.session_start, r.n_events)
        for r in spark.sql("SELECT * FROM dyn_twin_sessions").collect()
    }
    want = {
        (r.user_id, r.session_start, r.n_events)
        for r in sessionize_dynamic_gap(spark, sf_dir).collect()
    }
    assert got, "no sessions emitted"
    assert got <= want, f"streaming emitted sessions absent from batch: {sorted(got - want)[:5]}"
    assert len(got) >= int(len(want) * 0.9), (len(got), len(want))


def test_kafka_sink_mock_broker_end_to_end(spark, events_stream_dir, tmp_path):
    """O1-kafka executed, not just constructed (round-6 verdict #7): the
    kafka sink path runs end-to-end against a foreachBatch stand-in
    broker — option assembly, keyed wire serialization (key = node_id
    bytes, value = row-JSON bytes, topic column), checkpointing — and
    the delivered bytes JSON-roundtrip to the source rows exactly."""
    import json

    from flink_cookbook_spark.streaming.recipes import to_kafka_sink

    src = _metrics_view(_read_stream(spark, events_stream_dir))
    delivered: list[tuple[dict, int, list]] = []

    q = to_kafka_sink(
        src.where(F.col("node_id") == "1"),
        topic="node-metrics",
        bootstrap_servers="mockbroker:9092",
        checkpoint=str(tmp_path / "ckpt"),
        mock_writer=lambda opts, epoch, rows: delivered.append((opts, epoch, rows)),
        # arbitrary passthrough option must survive assembly
        **{"kafka.max.request.size": "1048576"},
    )
    q.processAllAvailable()
    q.stop()

    assert delivered, "mock broker received no batches"
    opts = delivered[0][0]
    assert opts["kafka.bootstrap.servers"] == "mockbroker:9092"
    assert opts["topic"] == "node-metrics"
    assert opts["kafka.max.request.size"] == "1048576"
    rows = [r for _, _, batch in delivered for r in batch]
    static = spark.read.parquet(events_stream_dir)
    n_want = static.where(F.col("user_id") == 1).count()
    assert len(rows) == n_want
    for r in rows[:50]:
        assert r.topic == "node-metrics"
        assert bytes(r.key).decode() == "1"
        payload = json.loads(bytes(r.value).decode())
        assert payload["node_id"] == "1"
        assert "cpu" in payload and "ts" in payload


def test_two_stage_topology_through_kafka_hop(spark, events_stream_dir, tmp_path):
    """The production two-query topology with the KAFKA HOP in the
    middle (README topology note: window-agg query =kafka=> model-side
    query), executed end-to-end without a broker: stage 1 publishes
    parsed metrics through to_kafka_sink's wire serialization into a
    stand-in broker log (the mock writer persists the exact key/value
    bytes), stage 2 readStreams the log and must recover rows IDENTICAL
    to the batch twin computed directly on the source — proving the
    kafka wire format (key bytes + row-JSON values) is lossless through
    both directions of the hop."""
    import json

    from flink_cookbook_spark.streaming.recipes import to_kafka_sink

    src = _metrics_view(_read_stream(spark, events_stream_dir))
    log_dir = tmp_path / "broker_log"
    log_dir.mkdir()

    def persist_batch(opts, epoch, rows):
        # the stand-in broker's durable log: one JSON-lines file per batch
        if rows:
            with open(log_dir / f"batch_{epoch}.jsonl", "w") as fh:
                for r in rows:
                    fh.write(
                        json.dumps(
                            {"key": bytes(r.key).decode(), "value": bytes(r.value).decode()}
                        )
                        + "\n"
                    )

    q = to_kafka_sink(
        src, topic="metrics-hop",
        checkpoint=str(tmp_path / "ckpt1"),
        mock_writer=persist_batch,
    )
    q.processAllAvailable()
    q.stop()

    # stage 2: consume the hop — parse the VALUE payload like a kafka
    # consumer would (value -> JSON -> typed columns), as a stream
    hop_schema = "key string, value string"
    stage2 = (
        spark.readStream.schema(hop_schema)
        .json(str(log_dir))
        .select(F.from_json("value", "node_id string, ts timestamp, cpu double").alias("m"))
        .select("m.node_id", "m.ts", "m.cpu")
        .groupBy("node_id")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("cpu") + F.lit(1e-9), 4).alias("avg_cpu"),
        )
    )
    qname = "hop_agg"
    q2 = (
        stage2.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q2.processAllAvailable()
    q2.stop()
    got = {
        r.node_id: (r.n, r.avg_cpu)
        for r in spark.sql(f"SELECT * FROM {qname}").collect()
    }
    want = {
        r.node_id: (r.n, r.avg_cpu)
        for r in spark.read.parquet(events_stream_dir)
        .select(
            F.col("user_id").cast("string").alias("node_id"),
            F.col("value").alias("cpu"),
        )
        .groupBy("node_id")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("cpu") + F.lit(1e-9), 4).alias("avg_cpu"),
        )
        .collect()
    }
    assert got == want
    assert len(got) > 5


def test_streaming_minute_rate_feeds_rate_profile(spark, sf_dir, events_stream_dir):
    """The round-8-prepared ``event_rate_profile`` has a streaming
    ingestion path: its per-minute stage runs as a structured-streaming
    1-minute tumbling count (complete mode — finite input, every window
    emitted), and the profile derived from the streamed partials equals
    the batch operator exactly."""
    from flink_cookbook_spark.operators.timeseries import event_rate_profile
    from flink_cookbook_spark.registry import rnd

    stream = (
        _read_stream(spark, events_stream_dir)
        .groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("minute_rate")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    derived = (
        spark.sql("SELECT event_type, w.start AS mn, n FROM minute_rate")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_minutes"),
            F.sum("n").alias("n_events"),
            rnd(F.avg("n"), 4).alias("mean_per_min"),
            rnd(F.expr("percentile(n, 0.95)"), 4).alias("p95_per_min"),
            F.max("n").alias("peak_per_min"),
            rnd(F.max("n") / F.avg("n"), 4).alias("peak_to_mean"),
        )
    )
    got = {r.event_type: r.asDict() for r in derived.collect()}
    want = {r.event_type: r.asDict()
            for r in event_rate_profile(spark, sf_dir).collect()}
    assert got == want


def test_keyed_operators_plan_shape(spark, events_stream_dir):
    """Each keyed streaming operator other than the model plans as one
    stateful group operator behind one hash exchange on its key."""
    from flink_cookbook_spark.streaming.heavyhitters import heavy_hitters_streaming
    from flink_cookbook_spark.streaming.pagehinkley import page_hinkley_streaming
    from flink_cookbook_spark.streaming.ratelimit import rate_limiter_streaming
    from flink_cookbook_spark.streaming.sequential import sprt_streaming

    ev = _read_stream(spark, events_stream_dir)
    t = F.col("ts").cast("double")
    ops = [
        rate_limiter_streaming(ev.select("user_id", t.alias("t"))),
        heavy_hitters_streaming(ev.select(F.col("user_id").alias("item"), t.alias("t"), "event_id")),
        page_hinkley_streaming(ev.select("event_type", t.alias("t"), "event_id", "value")),
        sprt_streaming(ev.select(F.lit("exp-1").alias("experiment_id"), "user_id",
                                 t.alias("first_ts"), (F.col("value") > 50).cast("int").alias("x"))),
    ]
    for df in ops:
        qe = df._jdf.queryExecution()
        assert qe.analyzed().toString().count("FlatMapGroupsInPandasWithState") == 1
        physical = spark._jvm.PythonSQLUtils.explainString(qe, "simple")
        assert physical.count("Exchange ") == 1, physical


def test_streaming_sprt_equals_batch(spark, sf_dir, tmp_path_factory):
    """The streaming SPRT must reach the batch twin's exact decision —
    across TWO micro-batch phases separated by a checkpointed restart,
    so cross-batch state persistence (not just single-pass folding) is
    what's being proved."""
    from flink_cookbook_spark.operators.experiments import sprt_sequential_test
    from flink_cookbook_spark.streaming.sequential import (
        sprt_observations, sprt_streaming,
    )

    obs = sprt_observations(spark, sf_dir).orderBy("first_ts", "user_id")
    rows = obs.collect()
    assert len(rows) > 3
    half_ts = rows[len(rows) // 2].first_ts
    base = tmp_path_factory.mktemp("sprt_stream")
    data_dir, ckpt = str(base / "obs"), str(base / "ckpt")
    out_dir = str(base / "out")
    # phase 1: first half arrives
    obs.where(F.col("first_ts") <= half_ts).write.parquet(
        data_dir, mode="overwrite"
    )
    schema = spark.read.parquet(data_dir).schema

    def run_phase(name):
        # memory sinks cannot recover from a checkpoint; the parquet
        # sink is the restart-capable path (and the production shape)
        stream = spark.readStream.schema(schema).parquet(data_dir)
        q = (
            sprt_streaming(stream)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return (
            spark.read.parquet(out_dir)
            .orderBy(F.col("n_total").desc())
            .limit(1)
            .collect()[0]
        )

    p1 = run_phase("sprt_p1")
    assert p1.n_total == sum(1 for r in rows if r.first_ts <= half_ts)
    # phase 2: the rest arrives after a restart from the checkpoint
    obs.where(F.col("first_ts") > half_ts).write.parquet(
        data_dir, mode="append"
    )
    p2 = run_phase("sprt_p2")
    [batch] = sprt_sequential_test(spark, sf_dir).collect()
    assert p2.n_total == batch.n_total == len(rows)
    assert p2.decision == batch.decision
    assert (p2.decided_at_n or None) == batch.decided_at_n
    assert abs(p2.llr - (batch.llr_final - 1e-6)) < 1e-3


def test_streaming_rate_limiter_equals_replay(spark, sf_dir, tmp_path_factory):
    """Per-USER stateful streaming at key cardinality: the token bucket
    folded across two micro-batch phases with a checkpointed restart
    must equal a continuous Python replay of the same recurrence for
    EVERY user."""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.operators.timeseries import RL_BURST, RL_REFILL_S
    from flink_cookbook_spark.streaming.ratelimit import rate_limiter_streaming

    ev = load(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("double").alias("t")
    )
    rows = ev.orderBy("t").collect()
    split_t = rows[len(rows) // 2].t
    base = tmp_path_factory.mktemp("rl_stream")
    data_dir, ckpt, out_dir = (
        str(base / "req"), str(base / "ckpt"), str(base / "out"),
    )
    # one part-file per phase: micro-batch chunking follows FILE order,
    # not time order, so a multi-file phase under maxFilesPerTrigger
    # could fold events out of (t, event_id) order and break the
    # bit-identical replay equality
    ev.where(F.col("t") <= split_t).coalesce(1).write.parquet(
        data_dir, mode="overwrite"
    )
    schema = spark.read.parquet(data_dir).schema

    def run_phase():
        stream = spark.readStream.schema(schema).parquet(data_dir)
        q = (
            rate_limiter_streaming(stream)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_phase()
    ev.where(F.col("t") > split_t).coalesce(1).write.parquet(
        data_dir, mode="append"
    )
    run_phase()
    # latest cumulative row per user
    from pyspark.sql import Window

    out = spark.read.parquet(out_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("n_requests").desc())
    got = {
        r.user_id: r
        for r in out.withColumn("rk", F.row_number().over(w))
        .where("rk = 1")
        .collect()
    }
    # continuous Python replay (no day slicing)
    series: dict = {}
    for r in rows:
        series.setdefault(r.user_id, []).append(r.t)
    assert set(series) == set(got)
    for uid, ts in series.items():
        ts.sort()
        tok, last, thr = RL_BURST - 1.0, ts[0], 0
        for t in ts[1:]:
            tok = min(RL_BURST, tok + (t - last) / RL_REFILL_S)
            if tok >= 1.0:
                tok -= 1.0
            else:
                thr += 1
            last = t
        assert got[uid].n_requests == len(ts), uid
        assert got[uid].n_throttled == thr, uid
        assert abs(got[uid].tokens_left - tok) < 1e-9, uid


def test_streaming_drift_monitor_equals_batch(spark, sf_dir, events_stream_dir, tmp_path_factory):
    """The live drift monitor's per-window KS gaps must equal the batch
    computation of the same windowed histograms against the same
    reference — streaming aggregation + foreachBatch parity."""
    from flink_cookbook_spark.streaming.driftmon import (
        drift_gap, drift_monitor, reference_histogram, windowed_histogram,
    )

    base = tmp_path_factory.mktemp("driftmon")
    out_dir, ckpt = str(base / "out"), str(base / "ckpt")
    ref = reference_histogram(spark, sf_dir)
    stream = _read_stream(spark, events_stream_dir)
    q = drift_monitor(stream, ref, out_dir, ckpt)
    q.processAllAvailable()
    q.stop()
    got = {
        (r.w_start, r.event_type): r
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got
    # batch twin: identical logic over the batch-read events
    batch_hist = (
        windowed_histogram(spark.read.parquet(events_stream_dir))
    )
    expected = {
        (r.w_start, r.event_type): r
        for r in drift_gap(batch_hist, ref).collect()
    }
    # append-mode watermark semantics: the FINAL window is still open
    # when the stream drains (nothing later ever advances the watermark
    # past its end), so it legitimately never emits — every closed
    # window must match the batch twin exactly
    last_w = max(w for w, _ in expected)
    closed = {k for k in expected if k[0] < last_w}
    assert set(got) == closed
    for k, r in got.items():
        e = expected[k]
        assert r.n_events == e.n_events, k
        assert abs(r.ks_d - e.ks_d) < 1e-9, k
        assert r.drifted == e.drifted, k


def test_drift_gap_batch_composition_invariant(spark):
    """A window's KS gap must not depend on which OTHER windows share
    its micro-batch: a reference bin matched by any window must still
    advance the reference CDF of windows that lack it, and (window,
    type) groups with zero events must not be fabricated from
    reference-only types."""
    from flink_cookbook_spark.streaming.driftmon import drift_gap

    ref = spark.createDataFrame(
        [("a", 0, 5), ("a", 1, 5), ("c", 0, 7)],
        "event_type string, bin long, ref_n long",
    )
    # window 1 observed only bin 0, window 2 only bin 1: in a combined
    # batch the old full-outer construction matched both bins globally
    # and fanned NOTHING, truncating each window's reference axis
    hist = spark.createDataFrame(
        [(100, "a", 0, 10), (200, "a", 1, 10)],
        "w_start long, event_type string, bin long, n long",
    )
    combined = {
        (r.w_start, r.event_type): r for r in drift_gap(hist, ref).collect()
    }
    # no fabricated rows for reference-only type "c"
    assert set(combined) == {(100, "a"), (200, "a")}
    # window 1: cdf_w=[1,1] vs cdf_r=[.5,1] over the union axis -> D=.5
    assert abs(combined[(100, "a")].ks_d - 0.5) < 1e-4
    assert abs(combined[(200, "a")].ks_d - 0.5) < 1e-4
    for w_start in (100, 200):
        alone = drift_gap(
            hist.where(F.col("w_start") == w_start), ref
        ).collect()
        assert len(alone) == 1
        r = alone[0]
        assert abs(r.ks_d - combined[(w_start, "a")].ks_d) < 1e-12
        assert r.n_events == combined[(w_start, "a")].n_events


def test_streaming_heavy_hitters_equals_replay(spark, sf_dir, tmp_path_factory):
    """Sharded Space-Saving folded across two micro-batch phases with a
    checkpointed restart must equal one continuous Python pass of the
    SAME shared fold — and the classic sketch guarantees must hold
    against exact counts."""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.streaming.heavyhitters import (
        HH_CAPACITY, HH_SHARDS, heavy_hitters_streaming, space_saving_fold,
    )

    ev = load(spark, sf_dir, "events").select(
        F.col("user_id").alias("item"),
        F.col("ts").cast("double").alias("t"),
        "event_id",
    )
    rows = ev.orderBy("t", "event_id").collect()
    split_t = rows[len(rows) // 2].t
    base = tmp_path_factory.mktemp("hh_stream")
    data_dir, ckpt, out_dir = (
        str(base / "items"), str(base / "ckpt"), str(base / "out"),
    )
    # one part-file per phase: micro-batch chunking follows FILE order,
    # not time order, so a multi-file phase under maxFilesPerTrigger
    # could fold events out of (t, event_id) order and break the
    # bit-identical replay equality
    ev.where(F.col("t") <= split_t).coalesce(1).write.parquet(
        data_dir, mode="overwrite"
    )
    schema = spark.read.parquet(data_dir).schema

    def run_phase():
        stream = spark.readStream.schema(schema).parquet(data_dir)
        q = (
            heavy_hitters_streaming(stream)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_phase()
    ev.where(F.col("t") > split_t).coalesce(1).write.parquet(
        data_dir, mode="append"
    )
    run_phase()

    from pyspark.sql import Window

    out = spark.read.parquet(out_dir)
    w = Window.partitionBy("shard").orderBy(F.col("n_processed").desc())
    final = (
        out.withColumn("rk", F.dense_rank().over(w))
        .where("rk = 1")
        .collect()
    )
    got: dict = {}
    for r in final:
        got.setdefault(r.shard, {})[r.item] = (r.count_est, r.err_bound)
        assert r.n_processed == sum(
            1 for x in rows if x.item % HH_SHARDS == r.shard
        )

    # continuous replay through the SAME shared fold
    per_shard: dict = {}
    for r in rows:
        per_shard.setdefault(r.item % HH_SHARDS, []).append(r.item)
    assert set(got) == set(per_shard)
    truth: dict = {}
    for r in rows:
        truth[r.item] = truth.get(r.item, 0) + 1
    for shard, items in per_shard.items():
        expected = space_saving_fold({}, items)
        assert got[shard] == expected, shard
        assert len(got[shard]) <= HH_CAPACITY
        n_shard = len(items)
        for it, (c, e) in got[shard].items():
            # over-estimate only, certified error, capacity-bounded error
            assert c >= truth[it], (shard, it)
            assert c - e <= truth[it], (shard, it)
            assert e <= n_shard // HH_CAPACITY + 1, (shard, it)
        # eviction must actually have exercised at fixture scale
        if len({i for i in items}) > HH_CAPACITY:
            assert any(e > 0 for _, e in got[shard].values()), shard


def test_streaming_page_hinkley_equals_replay(spark, sf_dir, tmp_path_factory):
    """Per-key Page-Hinkley folded across two micro-batch phases with a
    checkpointed restart must EXACTLY equal one continuous Python pass
    of the SAME shared fold (pure float recurrence, same order ->
    bit-identical), and the emitted invariants must hold."""
    from flink_cookbook_spark.catalog import load
    from flink_cookbook_spark.streaming.pagehinkley import (
        PH_STREAM_LAMBDA, page_hinkley_fold, page_hinkley_streaming,
    )

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").cast("double").alias("t"),
        "event_id",
        "value",
    )
    rows = ev.orderBy("t", "event_id").collect()
    split_t = rows[len(rows) // 2].t
    base = tmp_path_factory.mktemp("ph_stream")
    data_dir, ckpt, out_dir = (
        str(base / "vals"), str(base / "ckpt"), str(base / "out"),
    )
    # one part-file per phase: micro-batch chunking follows FILE order,
    # not time order, so a multi-file phase under maxFilesPerTrigger
    # could fold events out of (t, event_id) order and break the
    # bit-identical replay equality
    ev.where(F.col("t") <= split_t).coalesce(1).write.parquet(
        data_dir, mode="overwrite"
    )
    schema = spark.read.parquet(data_dir).schema

    def run_phase():
        stream = spark.readStream.schema(schema).parquet(data_dir)
        q = (
            page_hinkley_streaming(stream)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_phase()
    ev.where(F.col("t") > split_t).coalesce(1).write.parquet(
        data_dir, mode="append"
    )
    run_phase()

    from pyspark.sql import Window

    out = spark.read.parquet(out_dir)
    w = Window.partitionBy("event_type").orderBy(F.col("n_processed").desc())
    final = {
        r.event_type: r
        for r in out.withColumn("rk", F.dense_rank().over(w))
        .where("rk = 1")
        .collect()
    }

    # continuous replay through the SAME shared fold, same order
    per_key: dict = {}
    for r in rows:
        per_key.setdefault(r.event_type, []).append(float(r.value))
    assert set(final) == set(per_key)
    for et, xs in per_key.items():
        n, sum_x, m, m_min, crossings = page_hinkley_fold(
            (0, 0.0, 0.0, 0.0, 0), xs
        )
        r = final[et]
        assert r.n_processed == n == len(xs), et
        # bit-identical: same float ops in the same order
        assert r.running_mean == sum_x / n, et
        assert r.ph_stat == m - m_min, et
        assert r.ph_stat >= 0.0, et
        assert r.alarm == (r.ph_stat > PH_STREAM_LAMBDA), et
        assert r.n_alarm_crossings == crossings, et
        assert r.n_alarm_crossings >= (1 if r.alarm else 0), et


def test_streaming_page_hinkley_restart_parity_1000_keys(
    spark, tmp_path_factory
):
    """Restart parity at 200x the fixture's key cardinality: 1000 keys
    x 40 events, two checkpointed availableNow phases vs one continuous
    Python pass of the SAME shared fold — every key's final state must
    be bit-identical. This pins that the determinism contract (fold in
    (t, event_id) order, constant five-scalar state) is independent of
    how keys hash across the state-store partitions: with 1000 keys
    every shuffle partition holds many keys and every Arrow batch
    carries multiple groups, none of which the 5-key fixture test
    exercises."""
    import random

    from flink_cookbook_spark.streaming.pagehinkley import (
        PH_STREAM_LAMBDA, page_hinkley_fold, page_hinkley_streaming,
    )

    rng = random.Random(20260815)
    data = []
    eid = 0
    for k in range(1000):
        key = f"k{k:04d}"
        for i in range(40):
            # per-key level; a third of keys shift +15 mid-series so
            # alarm/crossing state is exercised, not just the quiet path
            level = 10.0 + (k % 7) + (15.0 if i >= 25 and k % 3 == 0 else 0.0)
            t = 1704067200.0 + i * 60 + (k % 50)
            data.append((key, t, eid, level + rng.uniform(-1.0, 1.0)))
            eid += 1
    ev = spark.createDataFrame(
        data, "event_type string, t double, event_id long, value double"
    )
    split_t = 1704067200.0 + 20 * 60

    base = tmp_path_factory.mktemp("ph_stream_1k")
    data_dir, ckpt, out_dir = (
        str(base / "vals"), str(base / "ckpt"), str(base / "out"),
    )
    ev.where(F.col("t") <= split_t).coalesce(1).write.parquet(
        data_dir, mode="overwrite"
    )
    schema = spark.read.parquet(data_dir).schema

    def run_phase():
        stream = spark.readStream.schema(schema).parquet(data_dir)
        # 4 state-store partitions, not the session's default 1, so keys
        # really hash across partitions
        with _state_partitions(spark, 4):
            q = (
                page_hinkley_streaming(stream)
                .writeStream.format("parquet")
                .outputMode("append")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        q.processAllAvailable()
        q.stop()
        assert q.lastProgress["stateOperators"][0]["numShufflePartitions"] == 4

    run_phase()
    ev.where(F.col("t") > split_t).coalesce(1).write.parquet(
        data_dir, mode="append"
    )
    run_phase()

    from pyspark.sql import Window

    out = spark.read.parquet(out_dir)
    w = Window.partitionBy("event_type").orderBy(F.col("n_processed").desc())
    final = {
        r.event_type: r
        for r in out.withColumn("rk", F.dense_rank().over(w))
        .where("rk = 1")
        .collect()
    }

    per_key: dict = {}
    for key, t, e, v in sorted(data, key=lambda r: (r[1], r[2])):
        per_key.setdefault(key, []).append(v)
    assert len(final) == 1000
    n_alarmed = 0
    for key, xs in per_key.items():
        n, sum_x, m, m_min, crossings = page_hinkley_fold(
            (0, 0.0, 0.0, 0.0, 0), xs
        )
        r = final[key]
        assert r.n_processed == n == 40, key
        assert r.running_mean == sum_x / n, key
        assert r.ph_stat == m - m_min, key
        assert r.alarm == (r.ph_stat > PH_STREAM_LAMBDA), key
        assert r.n_alarm_crossings == crossings, key
        n_alarmed += int(r.alarm)
    # the shifted third must actually alarm (fixture sanity, not a
    # property of the operator)
    assert n_alarmed >= 300
