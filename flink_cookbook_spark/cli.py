"""CLI: the reference's launch surface (C1), Spark-first.

Twin of parse_args/run_job (/root/reference/src/flinkarima.py:479-534 and
run_job.sh:21-47): same knobs, same defaults — source selection, datagen
shape, parallelism, checkpoint directory, history bounds, emit cadence,
SARIMA orders, alert thresholds. The reference's checkpoint interval has
no flag: Structured Streaming commits offsets and state at every
micro-batch, so the interval is the trigger. ``--mode batch`` replays a
parquet metric table through the batch twins; ``--mode stream`` runs the
two-query Structured Streaming topology (see ARCHITECTURE.md).
"""

from __future__ import annotations

import argparse

from pyspark.sql import functions as F
from flink_cookbook_spark.functions.time import epoch_seconds


def _comma_int_list(expected: int, implemented: tuple[int, ...]):
    """Validator twin of _comma_int_list (flinkarima.py:479-485). The
    engine implements one model order, so leading fields other than
    ``implemented`` are rejected rather than silently ignored."""

    def parse(value: str) -> tuple[int, ...]:
        parts = [p.strip() for p in value.split(",")]
        if len(parts) != expected:
            raise argparse.ArgumentTypeError(
                f"expected {expected} comma-separated ints, got {value!r}"
            )
        ints = tuple(int(p) for p in parts)
        if ints[: len(implemented)] != implemented:
            raise argparse.ArgumentTypeError(
                f"only {','.join(map(str, implemented))} is implemented, got {value!r}"
            )
        return ints

    return parse


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="flink-cookbook-spark",
        description="node-cpu baseline + anomaly alert pipeline (Spark)",
    )
    # source selection (reference: --use-datagen / kafka options)
    p.add_argument("--mode", choices=["batch", "stream"], default="batch")
    p.add_argument("--use-datagen", action="store_true",
                   help="in-process synthetic source instead of Kafka/files")
    p.add_argument("--source-path", default=None, help="parquet metrics dir (batch/file mode)")
    p.add_argument("--kafka-topic", default="node-metrics")
    p.add_argument("--bootstrap-servers", default="localhost:9092")
    # datagen knobs (flinkarima.py:495-497)
    p.add_argument("--nodes", type=int, default=5)
    p.add_argument("--rate", type=float, default=2.0)
    p.add_argument("--duration-seconds", type=int, default=None)
    # runtime (flinkarima.py:498-499)
    p.add_argument("--parallelism", type=int, default=None,
                   help="partitions of every shuffle and of streaming state "
                   "(reference: job parallelism); default: state on 1 "
                   "partition, batch shuffles at the core count. A "
                   "streaming checkpoint keeps the state width of its "
                   "first start")
    p.add_argument("--checkpoint-dir", default="/tmp/fcs-checkpoints")
    # model state (flinkarima.py:500-515)
    p.add_argument("--max-history", type=int, default=1440)
    p.add_argument("--min-history", type=int, default=288)
    p.add_argument("--emit-every-n", type=int, default=5)
    # the model is SARIMA(1,1,1)x(0,1,1,s) with a one-step forecast; the
    # flags stay for launch-line parity and reject any other order
    p.add_argument("--order", type=_comma_int_list(3, (1, 1, 1)), default=(1, 1, 1))
    p.add_argument("--seasonal-order", type=_comma_int_list(4, (0, 1, 1)),
                   default=(0, 1, 1, 288), help="P,D,Q,s; only s is free")
    p.add_argument("--forecast-steps", type=int, choices=[1], default=1)
    # alert thresholds (flinkarima.py:516-533)
    p.add_argument("--z-threshold", type=float, default=3.0)
    p.add_argument("--pct-threshold", type=float, default=50.0)
    p.add_argument("--min-baseline", type=float, default=1.0)
    # ad-hoc analytics: run any registered engine query by name
    p.add_argument("--run-query", default=None, metavar="NAME",
                   help="run a registered query (see --list-queries) and show rows")
    p.add_argument("--list-queries", action="store_true",
                   help="print every registered query name and exit")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001",
                   help="fixture directory for --run-query")
    p.add_argument("--show-rows", type=int, default=20)
    return p


def config_from_args(args: argparse.Namespace):
    from flink_cookbook_spark.streaming.sarimax import BaselineConfig

    return BaselineConfig(
        max_history=args.max_history,
        min_history=args.min_history,
        emit_every_n=args.emit_every_n,
        season=args.seasonal_order[3],
    )


def run(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from flink_cookbook_spark.session import get_spark
    from flink_cookbook_spark.streaming.sarimax import baseline_batch
    from flink_cookbook_spark.streaming.sources import synthetic_metrics_batch

    if args.list_queries:
        from flink_cookbook_spark.registry import all_specs

        for name, spec in sorted(all_specs().items()):
            oracle = "oracle" if spec.oracle else "rows-only"
            print(f"{name}\t[{oracle}]\t{', '.join(spec.tags)}")
        return 0
    if args.run_query:
        from flink_cookbook_spark.registry import get_query

        spark = get_spark(
            app_name=f"fcs-query-{args.run_query}",
            shuffle_partitions=args.parallelism,
        )
        try:
            spec = get_query(args.run_query)
        except KeyError:
            print(f"unknown query {args.run_query!r}; see --list-queries")
            return 2
        spec.fn(spark, args.sf_dir).show(args.show_rows, truncate=False)
        return 0
    spark = get_spark(
        app_name="node-cpu-sarimax-baseline",  # reference job name
        shuffle_partitions=args.parallelism,
    )
    cfg = config_from_args(args)
    if args.mode == "batch":
        if args.use_datagen or not args.source_path:
            n = int(args.nodes * args.rate * (args.duration_seconds or 3600))
            metrics = synthetic_metrics_batch(
                spark, n_rows=n, n_nodes=args.nodes, rate_per_node=args.rate
            )
        else:
            metrics = spark.read.parquet(args.source_path)
        windowed = (
            metrics.groupBy(F.window("ts", "5 minutes").alias("w"), "node_id")
            .agg(F.avg("cpu").alias("avg_value"))
            .select(
                F.col("node_id").alias("user_id"),
                epoch_seconds("w.start").alias("window_start"),
                "avg_value",
            )
        )
        baselines = baseline_batch(windowed, cfg)
        baselines.show(20, truncate=False)
        return 0
    # stream mode: the full two-query topology (window agg -> durable
    # parquet intermediate -> stateful baseline model -> alert on every
    # window -> console), as in ARCHITECTURE.md and tests/test_streaming.py.
    # Each query checkpoints independently (R1); the intermediate
    # directory is where the reference's Kafka hop sits in production.
    import os

    from flink_cookbook_spark.streaming.recipes import (
        continuous_alerts_stream,
        to_sink,
        windowed_avg_stream,
    )
    from flink_cookbook_spark.streaming.sources import (
        kafka_metrics_stream,
        synthetic_metrics_stream,
    )

    metrics = (
        synthetic_metrics_stream(spark, rows_per_second=int(args.nodes * args.rate),
                                 n_nodes=args.nodes)
        if args.use_datagen
        else kafka_metrics_stream(spark, args.kafka_topic, args.bootstrap_servers)
    )
    # stage 1: window agg -> durable intermediate, keyed by node id
    windowed = windowed_avg_stream(metrics).select("user_id", "window_start", "avg_value")
    inter_dir = os.path.join(args.checkpoint_dir, "intermediate")
    window_ckpt = os.path.join(args.checkpoint_dir, "windowed")
    os.makedirs(inter_dir, exist_ok=True)
    q_window = to_sink(
        windowed,
        fmt="parquet",
        query_name="window_agg",  # named operators (R3)
        checkpoint=window_ckpt,
        path=inter_dir,
    )
    # stage 2: stateful model + alert filter over the intermediate,
    # honoring the model/threshold knobs
    stage2_src = spark.readStream.schema(windowed.schema).parquet(inter_dir)
    alerts = continuous_alerts_stream(
        stage2_src,
        cfg,
        z_threshold=args.z_threshold,
        pct_threshold=args.pct_threshold,
        min_baseline=args.min_baseline,
    )
    q_alerts = to_sink(
        alerts,
        fmt="console",
        query_name="sarimax_baseline",  # reference operator name (R3)
        checkpoint=os.path.join(args.checkpoint_dir, "alerts"),
    )
    q_window.awaitTermination(args.duration_seconds)
    if args.duration_seconds is not None:
        q_window.stop()
        # stop() aborts the batch in flight, and stage 1 is never idle
        # between batches (each data batch is followed by a watermark
        # batch). A trigger-once run from the checkpoint re-runs the batch
        # its offset log planned, so stage 2's drain sees its windows.
        windowed.writeStream.format("parquet").option("checkpointLocation", window_ckpt).option(
            "path", inter_dir
        ).trigger(once=True).start().awaitTermination()
        q_alerts.processAllAvailable()  # drain what stage 1 committed
        q_alerts.stop()
    else:  # run until externally terminated
        q_alerts.awaitTermination()
    return 0


if __name__ == "__main__":
    raise SystemExit(run())
