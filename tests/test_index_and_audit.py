"""GridIndex (reference index.rs parity) and the plan auditor."""

import pytest

from datafusion_geo_spark.geo.geom import Geometry
from datafusion_geo_spark.geo.index import GridIndex
from datafusion_geo_spark.geo.wkb import to_wkb


def test_grid_index_envelope_queries():
    # mirrors the reference's index test shape (index.rs:35-66):
    # bulk-load a few geometries, query by envelope
    geoms = [
        Geometry.point(1, 1),
        Geometry.linestring([(0, 0), (5, 5)]),
        Geometry.box(10, 10, 12, 12),
        None,
        Geometry.point(100, 100),
    ]
    wkbs = [None if g is None else to_wkb(g) for g in geoms]
    idx = GridIndex.from_wkb_batch(wkbs)
    assert idx.query(0, 0, 2, 2) == [0, 1]
    assert idx.query(11, 11, 11.5, 11.5) == [2]
    assert idx.query(50, 50, 60, 60) == []
    assert idx.query(-1000, -1000, 1000, 1000) == [0, 1, 2, 4]


def test_grid_index_touching_envelopes():
    idx = GridIndex([(0, 0, 1, 1), (1, 1, 2, 2)])
    # closed envelopes: corner touch counts (AABB intersecting semantics)
    assert idx.query(1, 1, 1, 1) == [0, 1]


def test_audit_flags_python_join_condition(spark):
    import pyspark.sql.functions as F
    from datafusion_geo_spark.functions import st_intersects, st_point
    from datafusion_geo_spark.plans import assert_scalable, audit

    a = spark.range(10).select(
        st_point(F.col("id").cast("double"), F.lit(0.0)).alias("ga"))
    b = spark.range(10).select(
        st_point(F.col("id").cast("double"), F.lit(0.0)).alias("gb"))
    bad = a.join(b, st_intersects(F.col("ga"), F.col("gb")))
    rep = audit(bad)
    assert rep.python_in_join_condition or rep.has_cartesian_product
    with pytest.raises(ValueError):
        assert_scalable(bad)


def test_audit_passes_shipped_join(spark):
    import os
    import __spark_entry__ as entrymod
    from datafusion_geo_spark.plans import assert_scalable

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    rep = assert_scalable(entrymod.queries()["spatial_join"](spark, sf))
    assert rep.broadcast_joins >= 1
