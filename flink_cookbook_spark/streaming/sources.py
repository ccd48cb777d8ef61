"""Streaming + batch sources: Kafka builder, synthetic metric generator,
file streams.

Twins of the reference's sources (SURVEY.md S1-S3):
- S1 Kafka consumer (flinkarima.py:379-389) -> ``kafka_metrics_stream``:
  same topic/offset semantics via Structured Streaming options. Not
  testable in this container (no broker) — construction-only.
- S2/S3 synthetic generator (flinkarima.py:45-118, datagen.py:25-76) ->
  pure column expressions over ``spark.range`` (batch) or the rate
  source (streaming): per-node base U(30,70), hour-of-day factor,
  minute variation, U(-5,5) noise, 1% spike +U(30,50), clamp [0,100].
  Randomness is md5-derived from (node_id, ts, component, seed) — a
  counter-mode PRF both engines compute bit-identically, so the
  generator is deterministic across runs AND hash-checkable against a
  DuckDB oracle (the reference's wall-clock/random calls are the
  non-determinism we must design out — SURVEY.md section 7.3). Unlike
  ``rand(seed)`` (partition-layout-dependent, re-seeded per streaming
  run), the PRF depends only on row CONTENT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_cookbook_spark.registry import register, rnd
from flink_cookbook_spark.functions.time import epoch_millis, epoch_seconds

#: reference defaults: 5 nodes, 2 msg/s (datagen.py:166-171)
N_NODES = 5
SEED = 42


def kafka_metrics_stream(
    spark: SparkSession,
    topic: str = "node-metrics",
    bootstrap_servers: str = "localhost:9092",
    starting_offsets: str = "latest",
) -> DataFrame:
    """S1: Kafka JSON source -> parsed metric rows. Mirrors
    build_consumer (flinkarima.py:379-389): same topic, offset-reset
    semantics; group management is Spark-internal (checkpoint-based).

    Requires the spark-sql-kafka package on the classpath; this container
    has no broker, so the builder is exercised only for plan shape.
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return parse_metrics(raw.select(F.col("value").cast("string").alias("value")))


METRIC_JSON_SCHEMA = "node_id STRING, cpu_utilization DOUBLE, timestamp BIGINT"


def parse_metrics(raw: DataFrame) -> DataFrame:
    """P1: JSON string -> typed rows (flinkarima.py:121-127). The
    reference throws on missing required fields (dropping the record);
    from_json yields null — the validity filter reproduces drop
    semantics. ``timestamp`` defaults to 0 like the reference."""
    j = F.from_json("value", METRIC_JSON_SCHEMA)
    return (
        raw.select(
            j.getField("node_id").alias("node_id"),
            j.getField("cpu_utilization").alias("cpu"),
            F.coalesce(j.getField("timestamp"), F.lit(0)).alias("event_time"),
        )
        .where(F.col("node_id").isNotNull() & F.col("cpu").isNotNull())
        # native event time for watermarks/windows downstream (the
        # reference's ms epoch; 0-default rows land at 1970 like the
        # reference's parse fallback)
        .withColumn("ts", F.timestamp_millis(F.col("event_time")))
    )


#: uniform quantum: md5-derived uniforms are (md5_60bit % 1e9) / 1e9 —
#: coarse enough to be exactly representable identically in both engines.
_PRF_MOD = 1_000_000_000


def _md5_uniform(*parts: F.Column | str) -> F.Column:
    """Deterministic U[0,1) from md5 of ':'-joined parts — a counter-mode
    PRF on row content. DuckDB twin: the same construction via
    ``CAST('0x' || substr(md5(..), 1, 15) AS BIGINT)``."""
    s = F.concat_ws(":", *[F.lit(p) if isinstance(p, str) else p for p in parts])
    h = F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    return (h % _PRF_MOD) / F.lit(float(_PRF_MOD))


def _cpu_expr(ts_col: str, node_col: str, seed: int) -> F.Column:
    """The generator's value model as deterministic expressions
    (flinkarima.py:79-99 + datagen.py:45-76). Hour/minute come from
    epoch arithmetic, not calendar functions, so the value is identical
    under any session timezone."""
    tsl = epoch_seconds(ts_col)
    node = F.col(node_col)
    hour = (tsl % 86400) / F.lit(3600)
    hour = hour.cast("long")
    minute = ((tsl % 3600) / F.lit(60)).cast("long")
    base = 30.0 + (
        F.conv(F.substring(F.md5(F.concat(F.lit("base:"), node)), 1, 15), 16, 10)
        .cast("long")
        % 4000
    ) / F.lit(100.0)
    hour_factor = (
        F.when(hour < 6, 0.4)
        .when(hour < 9, 0.6)
        .when(hour < 17, 1.2)
        .when(hour < 22, 0.8)
        .otherwise(0.5)
    )
    minute_variation = 1.0 + (minute % 15).cast("double") * 0.02
    sseed = str(seed)
    noise = _md5_uniform(node, tsl.cast("string"), "noise", sseed) * 10.0 - 5.0
    spike = F.when(
        _md5_uniform(node, tsl.cast("string"), "spike", sseed) < 0.01,
        30.0 + _md5_uniform(node, tsl.cast("string"), "spikeamp", sseed) * 20.0,
    ).otherwise(0.0)
    cpu = base * hour_factor * minute_variation + noise + spike
    clamped = F.greatest(F.lit(0.0), F.least(F.lit(100.0), cpu))
    return rnd(clamped, 2)


def _cpu_sql(node: str, tsl: str, seed: int) -> str:
    """DuckDB twin of ``_cpu_expr`` — the identical arithmetic, so the
    generator itself is oracle-checkable. ``node``/``tsl`` are SQL
    expressions for the node id (VARCHAR) and epoch seconds (BIGINT)."""
    u = (
        lambda comp: f"((CAST('0x' || substr(md5({node} || ':' || CAST({tsl} AS VARCHAR)"
        f" || ':{comp}:{seed}'), 1, 15) AS BIGINT) % {_PRF_MOD})"
        f" / CAST({_PRF_MOD} AS DOUBLE))"
    )
    base = (
        f"(30.0 + (CAST('0x' || substr(md5('base:' || {node}), 1, 15) AS BIGINT)"
        f" % 4000) / CAST(100 AS DOUBLE))"
    )
    hour_factor = (
        f"(CASE WHEN ({tsl} % 86400) // 3600 < 6 THEN 0.4::DOUBLE"
        f" WHEN ({tsl} % 86400) // 3600 < 9 THEN 0.6::DOUBLE"
        f" WHEN ({tsl} % 86400) // 3600 < 17 THEN 1.2::DOUBLE"
        f" WHEN ({tsl} % 86400) // 3600 < 22 THEN 0.8::DOUBLE"
        f" ELSE 0.5::DOUBLE END)"
    )
    minute_variation = f"(1.0 + CAST((({tsl} % 3600) // 60) % 15 AS DOUBLE) * 0.02)"
    noise = f"({u('noise')} * 10.0 - 5.0)"
    spike = (
        f"(CASE WHEN {u('spike')} < 0.01 THEN 30.0 + {u('spikeamp')} * 20.0"
        f" ELSE 0.0::DOUBLE END)"
    )
    cpu = f"({base} * {hour_factor} * {minute_variation} + {noise} + {spike})"
    return f"round(greatest(0.0::DOUBLE, least(100.0::DOUBLE, {cpu})) + 1e-6, 2)"


def synthetic_metrics_batch(
    spark: SparkSession,
    n_rows: int = 10_000,
    n_nodes: int = N_NODES,
    rate_per_node: float = 2.0,
    seed: int = SEED,
) -> DataFrame:
    """S2/S3 batch twin: deterministic synthetic node metrics. Timestamps
    advance at ``rate_per_node`` msgs/s/node from a fixed origin, exactly
    one row per (tick, node) like the generator loop (datagen.py:110-139)."""
    base = spark.range(n_rows).select(
        (F.col("id") % n_nodes).alias("node_no"),
        (F.col("id") / n_nodes).cast("long").alias("tick"),
    )
    ts = F.timestamp_seconds(
        F.lit(1704067200) + (F.col("tick") / F.lit(rate_per_node)).cast("long")
    )
    df = base.select(
        F.format_string("node-%02d", "node_no").alias("node_id"),
        ts.alias("ts"),
    )
    return df.select(
        "node_id",
        "ts",
        _cpu_expr("ts", "node_id", seed).alias("cpu"),
        epoch_millis("ts").alias("event_time"),
    )


def synthetic_metrics_stream(
    spark: SparkSession,
    rows_per_second: int = 10,
    n_nodes: int = N_NODES,
    seed: int = SEED,
    micro_batch: bool = False,
) -> DataFrame:
    """S2 streaming twin: rate source -> the same value-model expressions.
    10 rows/s default == the reference's 5 nodes x 2 msg/s.
    ``micro_batch=True`` uses rate-micro-batch: a deterministic timestamp
    grid (fixed start/advance per batch) instead of wall-clock time.
    Because the value model is an md5 PRF on (node_id, ts) content — not
    rand(), which Spark re-seeds per streaming run — replaying the same
    grid reproduces the same cpu values exactly, batch or stream."""
    if micro_batch:
        rate = (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", rows_per_second)
            .option("startTimestamp", "1704067200000")
            .option("advanceMillisPerBatch", "1000")
            .load()
        )
    else:
        rate = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()
    df = rate.select(
        F.format_string("node-%02d", F.col("value") % n_nodes).alias("node_id"),
        F.col("timestamp").alias("ts"),
    )
    return df.select(
        "node_id",
        "ts",
        _cpu_expr("ts", "node_id", seed).alias("cpu"),
        epoch_millis("ts").alias("event_time"),
    )


def metrics_to_json(df: DataFrame) -> DataFrame:
    """S3's wire format: {node_id, cpu_utilization, timestamp} JSON
    strings (datagen.py:129-133), ready for a Kafka value column."""
    return df.select(
        F.to_json(
            F.struct(
                F.col("node_id"),
                F.col("cpu").alias("cpu_utilization"),
                F.col("event_time").alias("timestamp"),
            )
        ).alias("value")
    )


def _generator_grid_sql(n_rows: int) -> str:
    """DuckDB twin of ``synthetic_metrics_batch``'s (node_id, tsl) grid."""
    return f"""
grid AS (
  SELECT printf('node-%02d', range % {N_NODES}) AS node_id,
         1704067200 + CAST(floor((range // {N_NODES}) / 2.0) AS BIGINT) AS tsl
  FROM range({n_rows})
)"""


def synthetic_metrics_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered twin of S2/S3: deterministic generator output profile —
    per-node count, mean/min/max cpu over a fixed 10k-row run.
    HASH-CHECKED: the md5-PRF value model is engine-exact, so DuckDB
    regenerates the identical 10k rows from scratch and the whole
    generator (grid + value model + clamp) is value-verified."""
    df = synthetic_metrics_batch(spark, n_rows=10_000)
    return df.groupBy("node_id").agg(
        F.count("*").alias("n_msgs"),
        rnd(F.avg("cpu")).alias("avg_cpu"),
        rnd(F.min("cpu"), 2).alias("min_cpu"),
        rnd(F.max("cpu"), 2).alias("max_cpu"),
    )


register(
    "synthetic_metrics",
    oracle=f"""
WITH {_generator_grid_sql(10_000).strip()},
vals AS (
  SELECT node_id, {_cpu_sql('node_id', 'tsl', SEED)} AS cpu FROM grid
)
SELECT node_id, count(*) AS n_msgs,
       round(avg(cpu) + 1e-6, 4) AS avg_cpu,
       round(min(cpu) + 1e-6, 2) AS min_cpu,
       round(max(cpu) + 1e-6, 2) AS max_cpu
FROM vals GROUP BY node_id
""",
    tags=("source", "S2", "S3"),
)(synthetic_metrics_query)


def json_roundtrip_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 -> P1 parity: serialize the synthetic batch to the reference's
    JSON wire format, parse it back (P1), and verify losslessness as an
    aggregate over 10k messages. HASH-CHECKED against DuckDB regenerating
    the same rows directly — equality proves the serialize->parse loop
    is lossless (a lossy wire format would shift avg_cpu)."""
    gen = synthetic_metrics_batch(spark, n_rows=10_000)
    parsed = parse_metrics(metrics_to_json(gen))
    return parsed.groupBy("node_id").agg(
        F.count("*").alias("n_msgs"),
        rnd(F.avg("cpu")).alias("avg_cpu"),
    )


register(
    "json_wire_roundtrip",
    oracle=f"""
WITH {_generator_grid_sql(10_000).strip()},
vals AS (
  SELECT node_id, {_cpu_sql('node_id', 'tsl', SEED)} AS cpu FROM grid
)
SELECT node_id, count(*) AS n_msgs,
       round(avg(cpu) + 1e-6, 4) AS avg_cpu
FROM vals GROUP BY node_id
""",
    tags=("source", "P1", "P2"),
)(json_roundtrip_query)
