"""Fixture catalog: typed loaders over the driver-materialized parquet tables.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file per table under an sf dir.

Scans stay declarative (``spark.read.parquet``) so Catalyst gets predicate
pushdown, column pruning, and (on partitioned layouts) partition pruning
for free. At 100 TB the same call reads a partitioned/ bucketed table —
nothing in the engine assumes single-file inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame. Not free: each call runs a
    Spark job ("parquet at NativeMethodAccessorImpl") that infers the
    file's schema, again when the session re-reads a table it has read
    before. The rows themselves are read lazily, by the query's action.

    ``events.ts`` has shipped in three parquet encodings across fixture
    regenerations: TIMESTAMP(NANOS) (read as long via
    ``spark.sql.legacy.parquet.nanosAsLong``), plain ``timestamp[us]``
    without timezone (Spark 4.x reads it as TIMESTAMP_NTZ), and
    instant-semantics ``timestamp[us, tz=UTC]``. All three are normalized
    here to session-TZ TimestampType (session TZ pinned UTC below, so
    epoch semantics match DuckDB's naive timestamps exactly) so every
    downstream operator sees native, castable event time.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # queries may run under a caller-provided session (the driver's):
    # pin the runtime confs correctness depends on. UTC matches DuckDB's
    # naive timestamps; adaptive shuffle keeps partition counts sane.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            # integer division: epoch nanos (~1.7e18) exceed double's
            # 53-bit mantissa, so `/ 1000` through a double corrupts ~12%
            # of microsecond values by 1 us.
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(field.dataType, T.TimestampNTZType):
            # TIMESTAMP_NTZ forbids epoch casts (cast ntz->bigint is an
            # AnalysisException); with the session TZ pinned UTC the wall
            # clock IS the instant, so this cast is value-preserving.
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df
