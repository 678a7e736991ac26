"""Unit + plan tests for dwithin_join (operators/spatial_join.py) —
distance-band join via d-expanded grid cells. Fixture-level oracle check
lives in test_entry_oracle.py."""

import pyspark.sql.functions as F
import pytest

from datafusion_geo_spark.operators.spatial_join import dwithin_join


def _points(spark, rows, name):
    from datafusion_geo_spark.functions import st_point
    df = spark.createDataFrame(rows, f"{name} long, x double, y double")
    return df.withColumn("geom", st_point(F.col("x"), F.col("y")))


def _pairs(df):
    return {(r["a"], r["b"]) for r in
            df.select(F.col("la.aid").alias("a"),
                      F.col("rb.bid").alias("b")).collect()}


def test_dwithin_pairs_and_boundary(spark):
    a = _points(spark, [(1, 0.0, 0.0), (2, 100.0, 100.0)], "aid")
    b = _points(spark, [(10, 3.0, 4.0),      # dist 5 == d -> included
                        (11, 3.0, 4.1),      # dist > 5 -> excluded
                        (12, 104.0, 100.0),  # dist 4 from a2
                        (13, 50.0, 50.0)], "bid")
    got = _pairs(dwithin_join(a, b, d=5.0, points_native=True))
    assert got == {(1, 10), (2, 12)}


def test_dwithin_cross_cell_pair_counted_once(spark):
    """Pair straddling a cell boundary (cell=8, points at 7.9 and 8.1)
    must appear exactly once (canonical-cell dedup, no distinct())."""
    a = _points(spark, [(1, 7.9, 7.9)], "aid")
    b = _points(spark, [(10, 8.1, 8.1)], "bid")
    out = dwithin_join(a, b, d=1.0, cell=8.0, points_native=True)
    rows = out.collect()
    assert len(rows) == 1


def test_dwithin_udf_refinement_for_lines(spark):
    """points_native=False path: exact ST_DWithin refines via the
    pandas UDF — a line 1 unit away matches at d=1.5, not at d=0.5."""
    from datafusion_geo_spark.functions import st_geomfromtext
    a = spark.createDataFrame([(1, "LINESTRING(0 0,10 0)")],
                              "aid long, wkt string") \
        .withColumn("geom", st_geomfromtext(F.col("wkt"))).drop("wkt")
    b = _points(spark, [(10, 5.0, 1.0)], "bid")
    assert len(dwithin_join(a, b, d=1.5).collect()) == 1
    assert len(dwithin_join(a, b, d=0.5).collect()) == 0


def test_dwithin_null_geoms_never_match(spark):
    a = _points(spark, [(1, 0.0, 0.0)], "aid") \
        .withColumn("geom", F.lit(None).cast("binary"))
    a = a.drop("x", "y").withColumn("x", F.lit(None).cast("double")) \
         .withColumn("y", F.lit(None).cast("double"))
    b = _points(spark, [(10, 0.0, 0.0)], "bid")
    assert dwithin_join(a, b, d=5.0, points_native=True).count() == 0


def test_dwithin_negative_distance_rejected(spark):
    a = _points(spark, [(1, 0.0, 0.0)], "aid")
    with pytest.raises(ValueError):
        dwithin_join(a, a, d=-1.0)


def test_dwithin_plan_equi_join_no_cartesian(spark):
    a = _points(spark, [(1, 0.0, 0.0)], "aid")
    b = _points(spark, [(10, 1.0, 0.0)], "bid")
    plan = (dwithin_join(a, b, d=2.0, points_native=True)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # native path: no Python evaluation anywhere after the bbox pass —
    # per side: one st_point construction + one box2d, nothing more
    # (i.e. the join condition and refinement are UDF-free)
    assert plan.count("ArrowEvalPython") <= 4
