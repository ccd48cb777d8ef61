"""Ground-truth properties of the prepared geospatial family, beyond
the cross-engine oracle equality (which is itself a completeness proof:
the DuckDB oracle is the UNBUCKETED brute force)."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.operators.geo import (
    GEO_CELL_KM,
    GEO_LAT_KM,
    GEO_LON_KM,
    GEO_LON_KM_MIN,
    GEO_RADIUS_KM,
    _geo_located,
    _haversine_km,
    geo_grid_density,
    geo_nearest_supplier,
    geo_radius_join,
)


def test_probe_covers_every_true_pair_in_spark(spark, sf_dir):
    """In-engine brute force (cross join, no bucketing) == the bucketed
    radius join.  The 3x3 margin theorem (module docstring), executed:
    CELL > RADIUS * max-projected-overestimate (GEO_LON_KM/78.63 at lat
    45 — the direction that binds completeness), so nothing is lost."""
    assert GEO_CELL_KM > GEO_RADIUS_KM * (GEO_LON_KM / GEO_LON_KM_MIN)
    cust = _geo_located(load(spark, sf_dir, "customer"), "c_custkey", "c", "ck")
    supp = _geo_located(load(spark, sf_dir, "supplier"), "s_suppkey", "s", "sk")
    brute = (
        cust.crossJoin(
            supp.select(
                F.col("sk"),
                F.col("lat").alias("slat"),
                F.col("lon").alias("slon"),
            )
        )
        .withColumn(
            "d",
            _haversine_km(
                F.col("lat"), F.col("lon"), F.col("slat"), F.col("slon")
            ),
        )
        .filter(F.col("d") <= GEO_RADIUS_KM)
    )
    brute_pairs = {(r.ck, r.sk) for r in brute.select("ck", "sk").collect()}
    bucketed_pairs = {
        (r.c_custkey, r.s_suppkey)
        for r in geo_radius_join(spark, sf_dir).collect()
    }
    assert bucketed_pairs == brute_pairs
    assert bucketed_pairs, "fixture must produce a non-vacuous pair set"


def test_nearest_is_the_minimum_of_the_radius_join(spark, sf_dir):
    radius = geo_radius_join(spark, sf_dir).collect()
    best: dict = {}
    for r in radius:
        cur = best.get(r.c_custkey)
        cand = (r.dist_km, r.s_suppkey)
        if cur is None or cand < cur:
            best[r.c_custkey] = cand
    nearest = geo_nearest_supplier(spark, sf_dir).collect()
    assert len(nearest) == len(best)
    for r in nearest:
        d, sk = best[r.c_custkey]
        assert (r.dist_km, r.s_suppkey) == (d, sk)
        assert r.dist_km <= GEO_RADIUS_KM


def test_grid_density_partitions_all_events(spark, sf_dir):
    """Every event lands in exactly one cell; cell ids stay inside the
    box's 14x19 grid (the bounded-vocabulary scale claim)."""
    rows = geo_grid_density(spark, sf_dir).collect()
    n_events = sum(r.n_events for r in rows)
    assert n_events == load(spark, sf_dir, "events").count()
    max_x = int(5.0 * GEO_LON_KM / GEO_CELL_KM)
    max_y = int(5.0 * GEO_LAT_KM / GEO_CELL_KM)
    for r in rows:
        assert 0 <= r.cell_x <= max_x
        assert 0 <= r.cell_y <= max_y
        assert 1 <= r.n_users <= r.n_events
