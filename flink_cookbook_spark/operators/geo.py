"""Geospatial operators: the three canonical ones a warehouse needs.

A grid-bucketed radius join (the spatial analogue of the banded LSH /
bucketed range-join pattern used everywhere else in the repo),
nearest-neighbor assignment derived from the same candidate set, and a
bounded-vocabulary grid density rollup.

The fixture tables carry no coordinates, so each entity's position is a
deterministic md5-PRF coin (the exact pattern of
``pipeline/sampling.py``): lat = 40 + coin('geo-lat:<tag>:'||key)*5e-6,
lon = coin('geo-lon:<tag>:'||key)*5e-6 — a 5 deg x 5 deg box (~556 km x
~410 km) both engines recompute bit-identically (integer coin times
exact literal; no trig in the coordinate or cell derivation).

Float-parity posture (ARCHITECTURE.md round-7 rules): trig appears ONLY
in the reported haversine distance and its radius predicate, where the
operands are continuous md5-derived reals — a last-ulp libm divergence
flips the predicate only if a pair lands within ~1e-9 km of the 25 km
threshold, measure-zero for this fixture family.  Cell assignment —
the part that shapes the join — is trig-free: x_km = lon * 82.0 and
y_km = (lat - 40) * 111.195 use fixed literals, so both engines floor
the same doubles.

Completeness of the 3x3 probe is a theorem, not a hope: the cell edge
is 30 km and the binding distortion for completeness is the projected
OVERESTIMATE of a true distance — worst at high latitude, where a
degree of longitude is only 78.63 km but the projection charges 82.0:
82.0/78.63 = 1.043x (km-per-degree-longitude ranges over
[78.63, 85.18] across lat 40..45).  Any pair within 25 km true
distance therefore projects to <= 25 * 82.0/78.63 = 26.07 km < 30 km
per axis and lands within one cell in each direction.  The DuckDB oracle is the UNBUCKETED brute
force, so every driver run re-proves no-lost-pairs end to end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.registry import register, rnd


#: box origin / extent (degrees) and the md5-coin resolution.
GEO_LAT0 = 40.0
GEO_SPAN_DEG = 5.0
GEO_COIN_MOD = 1_000_000
#: km per degree latitude (spherical earth), and the FIXED bucketing
#: constant for km per degree longitude inside the box (true value
#: ranges over [78.63, 85.18] for lat 40..45; the completeness-binding
#: overestimate is 82.0/78.63 = 1.043x — see module docstring).
GEO_LAT_KM = 111.195
GEO_LON_KM = 82.0
#: true km per degree longitude at the box's high-latitude edge (lat
#: 45) — the denominator of the completeness margin.
GEO_LON_KM_MIN = 78.63
#: grid cell edge and the radius-join threshold.  CELL > RADIUS *
#: (GEO_LON_KM / GEO_LON_KM_MIN) = RADIUS * 1.043 is the completeness
#: margin for 3x3 probing.
GEO_CELL_KM = 30.0
GEO_RADIUS_KM = 25.0
GEO_EARTH_R = 6371.0088


def _geo_coin(tag: str, key: Column) -> Column:
    """Uniform integer in [0, 1e6) from md5 — sampling.py's coin."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(tag), key.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    return h % GEO_COIN_MOD


def _geo_located(df: DataFrame, key: str, tag: str, out_key: str) -> DataFrame:
    """Attach deterministic (lat, lon) and the trig-free grid cell."""
    k = F.col(key)
    lat = F.lit(GEO_LAT0) + _geo_coin(f"geo-lat:{tag}:", k) * F.lit(
        GEO_SPAN_DEG / GEO_COIN_MOD
    )
    lon = _geo_coin(f"geo-lon:{tag}:", k) * F.lit(GEO_SPAN_DEG / GEO_COIN_MOD)
    located = df.select(
        k.alias(out_key), lat.alias("lat"), lon.alias("lon")
    )
    return located.select(
        out_key,
        "lat",
        "lon",
        F.floor((F.col("lon") * GEO_LON_KM) / GEO_CELL_KM)
        .cast("int")
        .alias("cell_x"),
        F.floor(((F.col("lat") - GEO_LAT0) * GEO_LAT_KM) / GEO_CELL_KM)
        .cast("int")
        .alias("cell_y"),
    )


def _haversine_km(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column
) -> Column:
    """Great-circle distance; association order mirrored in the oracle
    so both engines evaluate the identical double expression tree."""
    sdlat = F.sin(F.radians(lat2 - lat1) / 2)
    sdlon = F.sin(F.radians(lon2 - lon1) / 2)
    h = sdlat * sdlat + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * (
        sdlon * sdlon
    )
    return F.lit(2.0 * GEO_EARTH_R) * F.asin(F.sqrt(h))


#: shared oracle CTE prefix: brute-force located pairs with distance.
def _geo_pairs_cte() -> str:
    def coin(tag: str, key: str) -> str:
        return (
            f"(CAST('0x' || substr(md5('{tag}' || CAST({key} AS VARCHAR)), 1, 15)"
            f" AS BIGINT) % {GEO_COIN_MOD})"
        )

    def located(table: str, key: str, tag: str) -> str:
        return f"""
  SELECT {key} AS k,
         {GEO_LAT0} + {coin(f'geo-lat:{tag}:', key)} * {GEO_SPAN_DEG / GEO_COIN_MOD} AS lat,
         {coin(f'geo-lon:{tag}:', key)} * {GEO_SPAN_DEG / GEO_COIN_MOD} AS lon
  FROM {table}"""

    return f"""
c AS ({located('customer', 'c_custkey', 'c')}),
s AS ({located('supplier', 's_suppkey', 's')}),
pairs AS (
  SELECT c.k AS c_custkey, s.k AS s_suppkey,
         2.0 * {GEO_EARTH_R} * asin(sqrt(
           sin(radians(s.lat - c.lat) / 2) * sin(radians(s.lat - c.lat) / 2)
           + cos(radians(c.lat)) * cos(radians(s.lat))
             * (sin(radians(s.lon - c.lon) / 2) * sin(radians(s.lon - c.lon) / 2))
         )) AS d
  FROM c CROSS JOIN s
)"""


def _geo_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed (customer, supplier) candidates with distance —
    the shared engine for the radius join and nearest assignment.

    Scale shape: each customer probes its 3x3 cell neighborhood (9x
    fan-out of the SMALL projected key set, not the raw table), then
    ONE equi-join on (cell_x, cell_y) — never customer x supplier.
    Join is left UNHINTED: cell cardinality grows with covered area,
    density skew (cities) is AQE skew-join territory, not broadcast."""
    cust = _geo_located(load(spark, sf_dir, "customer"), "c_custkey", "c", "ck")
    supp = _geo_located(load(spark, sf_dir, "supplier"), "s_suppkey", "s", "sk")
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    probed = cust.select(
        "ck",
        F.col("lat").alias("clat"),
        F.col("lon").alias("clon"),
        "cell_x",
        "cell_y",
        F.explode(offsets).alias("o"),
    ).select(
        "ck",
        "clat",
        "clon",
        (F.col("cell_x") + F.col("o.dx")).alias("px"),
        (F.col("cell_y") + F.col("o.dy")).alias("py"),
    )
    joined = probed.join(
        supp,
        (F.col("px") == supp["cell_x"]) & (F.col("py") == supp["cell_y"]),
    )
    return joined.select(
        "ck",
        "sk",
        _haversine_km(
            F.col("clat"), F.col("clon"), F.col("lat"), F.col("lon")
        ).alias("d"),
    )


def _geo_radius_oracle() -> str:
    return f"""
WITH {_geo_pairs_cte()}
SELECT c_custkey, s_suppkey, round(d + 1e-6, 4) AS dist_km
FROM pairs WHERE d <= {GEO_RADIUS_KM}
"""


@register(
    "geo_radius_join",
    oracle=_geo_radius_oracle(),
    tags=("prepared-r8",),
)
def geo_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPATIAL RADIUS JOIN: every (customer, supplier) pair within 25 km
    great-circle distance, via 3x3 grid-cell probing — the spatial
    sibling of ``range_join_bucketed`` (1-D buckets) and the LSH band
    join (hash buckets).  The oracle is the unbucketed brute force, so
    a hash match IS the no-lost-pairs completeness proof."""
    cands = _geo_candidates(spark, sf_dir)
    return (
        cands.filter(F.col("d") <= GEO_RADIUS_KM)
        .select(
            F.col("ck").alias("c_custkey"),
            F.col("sk").alias("s_suppkey"),
            rnd(F.col("d"), 4).alias("dist_km"),
        )
    )


def _geo_nearest_oracle() -> str:
    return f"""
WITH {_geo_pairs_cte()},
ranked AS (
  SELECT c_custkey, s_suppkey, d,
         row_number() OVER (PARTITION BY c_custkey ORDER BY d, s_suppkey) AS rn
  FROM pairs WHERE d <= {GEO_RADIUS_KM}
)
SELECT c_custkey, s_suppkey, round(d + 1e-6, 4) AS dist_km
FROM ranked WHERE rn = 1
"""


@register(
    "geo_nearest_supplier",
    oracle=_geo_nearest_oracle(),
    tags=("prepared-r8",),
)
def geo_nearest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-NEIGHBOR ASSIGNMENT within the service radius: each
    customer's closest supplier among those <= 25 km away (suppkey
    tie-break), i.e. k=1 kNN restricted to the probe radius — the
    assignment step of territory planning / fulfillment routing.

    Scale shape: reuses the bucketed candidate set (never a global
    argmin), then one keyed window per customer over a candidate list
    whose size is bounded by supplier density in 9 cells."""
    cands = _geo_candidates(spark, sf_dir).filter(
        F.col("d") <= GEO_RADIUS_KM
    )
    w = Window.partitionBy("ck").orderBy(F.col("d").asc(), F.col("sk").asc())
    return (
        cands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("ck").alias("c_custkey"),
            F.col("sk").alias("s_suppkey"),
            rnd(F.col("d"), 4).alias("dist_km"),
        )
    )


def _geo_density_oracle() -> str:
    coin_lat = (
        "(CAST('0x' || substr(md5('geo-lat:u:' || CAST(user_id AS VARCHAR)), 1, 15)"
        f" AS BIGINT) % {GEO_COIN_MOD})"
    )
    coin_lon = (
        "(CAST('0x' || substr(md5('geo-lon:u:' || CAST(user_id AS VARCHAR)), 1, 15)"
        f" AS BIGINT) % {GEO_COIN_MOD})"
    )
    return f"""
WITH located AS (
  SELECT event_id, user_id, value,
         {GEO_LAT0} + {coin_lat} * {GEO_SPAN_DEG / GEO_COIN_MOD} AS lat,
         {coin_lon} * {GEO_SPAN_DEG / GEO_COIN_MOD} AS lon
  FROM events
),
cells AS (
  SELECT event_id, user_id, value,
         CAST(floor((lon * {GEO_LON_KM}) / {GEO_CELL_KM}) AS INTEGER) AS cell_x,
         CAST(floor(((lat - {GEO_LAT0}) * {GEO_LAT_KM}) / {GEO_CELL_KM}) AS INTEGER) AS cell_y
  FROM located
)
SELECT cell_x, cell_y, count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       round(CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) / count(*)
             + 1e-6, 6) AS avg_value
FROM cells GROUP BY cell_x, cell_y
"""


@register(
    "geo_grid_density",
    oracle=_geo_density_oracle(),
    tags=("prepared-r8",),
)
def geo_grid_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPATIAL GRID DENSITY rollup (the heatmap layer): events mapped
    to their user's deterministic location, aggregated per 30 km grid
    cell — event count, resident distinct users, mean value.

    Scale shape: cell derivation is inline zero-shuffle expression work
    (no user-dimension join — the location is a pure function of
    user_id), then one map-side-combinable aggregate whose key
    vocabulary is the GRID (bounded by covered area: 14x19 cells for
    this box), not the row count — the same bounded-vocabulary argument
    as ``weekday_hour_heatmap``; count_distinct adds the standard exact
    two-phase expand, still keyed by cell."""
    ev = load(spark, sf_dir, "events")
    uid = F.col("user_id")
    lat = F.lit(GEO_LAT0) + _geo_coin("geo-lat:u:", uid) * F.lit(
        GEO_SPAN_DEG / GEO_COIN_MOD
    )
    lon = _geo_coin("geo-lon:u:", uid) * F.lit(GEO_SPAN_DEG / GEO_COIN_MOD)
    cells = ev.select(
        "user_id",
        "value",
        F.floor((lon * GEO_LON_KM) / GEO_CELL_KM).cast("int").alias("cell_x"),
        F.floor(((lat - GEO_LAT0) * GEO_LAT_KM) / GEO_CELL_KM)
        .cast("int")
        .alias("cell_y"),
    )
    # round-13 correctness hardening: cells are a FIXED grid, so
    # per-cell row counts grow with the corpus and a raw-double mean's
    # summation-order divergence eventually crosses the 6-dp rounding
    # boundary (first seen at sf0.1: spark ...688 vs duckdb ...689 on
    # one cell). events.value is cent-precision, so the established
    # DECIMAL discipline applies: exact decimal sum (identical on both
    # engines), one double division by the count, identical rounding.
    value_dec = F.col("value").cast("decimal(14,2)")
    return (
        cells.groupBy("cell_x", "cell_y")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            rnd(
                F.sum(value_dec).cast("double") / F.count("*"), 6
            ).alias("avg_value"),
        )
    )
