"""SparkSession factory with scale-aware defaults.

Local testing runs on local[N] (single JVM); the config is nonetheless
written for a real cluster: AQE handles runtime re-planning (partition
coalescing, skew-join splitting), and the session timezone is pinned to
UTC so results are reproducible and comparable against the DuckDB oracle
(DuckDB timestamps are UTC-naive).

Two confs set two different widths:

- ``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` is the
  width of every batch shuffle. With AQE and partition coalescing on,
  Spark reads it in place of ``spark.sql.shuffle.partitions``, and AQE
  then coalesces down by data volume. It defaults to the local core
  count; on a cluster raise it to ~2-3x total executor cores.
- ``spark.sql.shuffle.partitions`` is the width of streaming state and
  of any exchange that runs without AQE. Structured Streaming disables
  AQE and writes this number into each stateful query's checkpoint at
  its first start, so it is the query's state-store partition count for
  life. It defaults to 1, the reference's default job parallelism,
  because a micro-batch pays one state store, one task and one sink
  file per partition however few rows it holds.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory() -> str:
    """The driver heap ``get_spark`` asks for, as a Spark memory string:
    ``$SPARK_GRAFT_DRIVER_MEM``, else 8g."""
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")


def get_spark(
    app_name: str = "flink_cookbook_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``shuffle_partitions=None`` gives streaming state one partition and
    batch shuffles the core count (``initialPartitionNum``). An explicit
    ``shuffle_partitions=n`` (the CLI's ``--parallelism``, the
    reference's job parallelism) sets both widths to ``n``.

    At 100 TB these same knobs apply — only the values change:
    ``initialPartitionNum`` ~ 2-3x total cores (AQE coalesces down),
    ``spark.sql.files.maxPartitionBytes`` sized so a scan task's input
    fits comfortably in executor memory.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    state_partitions = shuffle_partitions or 1
    batch_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(state_partitions))
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(batch_partitions),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # size post-shuffle partitions by data volume (advisory 64 MB
        # target), not by the cluster's default parallelism — the Spark
        # tuning guide's recommended production setting. A 3 MB aggregate
        # becomes 1 partition instead of 32 near-empty tasks; a 10 GB
        # shuffle still fans out to ~160.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # let AQE re-plan (and coalesce) CACHED plans too: persisted
        # intermediates (the 5-min windowed aggregate, the shingle index)
        # otherwise keep shuffle-partition-count slices forever, and every
        # downstream consumer pays per-task overhead proportional to the
        # ORIGINAL parallelism rather than the data size.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
