"""Unit + plan tests for make_tiles (operators/tiles.py). Fixture-level
oracle check lives in test_entry_oracle.py."""

import pyspark.sql.functions as F
import pytest

from datafusion_geo_spark.operators.tiles import make_tiles


def _geoms(spark, rows):
    from datafusion_geo_spark.functions import st_geomfromtext
    df = spark.createDataFrame(rows, "id long, wkt string")
    return df.withColumn("geom", st_geomfromtext(F.col("wkt"))).drop("wkt")


def test_tile_addressing_and_mvt_coords(spark):
    from datafusion_geo_spark.functions import st_astext
    # world (0,0,1024), zoom 4 -> 16x16 tiles of 64; point (100, 1000):
    # tx = 1, ty = floor((1024-1000)/64) = 0 (XYZ counts from the top)
    out = (make_tiles(_geoms(spark, [(1, "POINT(100 1000)")]), zoom=4)
           .select("tx", "ty", st_astext(F.col("mvt_geom")).alias("w"))
           .collect())
    assert len(out) == 1
    r = out[0]
    assert (r["tx"], r["ty"]) == (1, 0)
    # local: x' = (100-64)*64 = 2304; y' = (1024-1000)*64 = 1536
    assert r["w"] == "POINT(2304 1536)"


def test_tile_spanning_feature_replicated(spark):
    # bbox [60..70]x[60..70] crosses the x=64 and y=64 tile edges ->
    # 2x2 tiles; ty flipped: y in [60,70] -> ty 14 (top part) and 15
    out = (make_tiles(_geoms(
        spark, [(1, "LINESTRING(60 60,70 70)")]), zoom=4)
        .select("tx", "ty").collect())
    got = {(r["tx"], r["ty"]) for r in out}
    assert got == {(0, 14), (0, 15), (1, 14), (1, 15)}


def test_tile_null_geometry_produces_no_tiles(spark):
    df = _geoms(spark, [(1, "POINT(1 1)")]) \
        .withColumn("geom", F.lit(None).cast("binary"))
    assert make_tiles(df, zoom=2).count() == 0


def test_tile_world_edge_clamped(spark):
    # a point on the world's max corner clamps to the last tile
    out = (make_tiles(_geoms(spark, [(1, "POINT(1024 0)")]), zoom=1)
           .select("tx", "ty").collect())
    assert [(r["tx"], r["ty"]) for r in out] == [(1, 1)]


def test_tile_zoom_validation(spark):
    df = _geoms(spark, [(1, "POINT(0 0)")])
    with pytest.raises(ValueError):
        make_tiles(df, zoom=-1)


def test_tile_plan_is_shuffle_free(spark):
    df = _geoms(spark, [(1, "POINT(1 1)")])
    plan = (make_tiles(df, zoom=3)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan         # fully map-side
    assert "CartesianProduct" not in plan


def test_tile_outside_world_dropped(spark):
    out = make_tiles(_geoms(spark, [(1, "POINT(2000 2000)"),
                                    (2, "POINT(-5 -5)")]), zoom=2)
    assert out.count() == 0
