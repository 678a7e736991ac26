"""Round-2 regression tests for the ADVICE findings:

1. NULL numeric arguments arrive as NaN in pandas float Series — every
   numeric-argument kernel must honor null-in → null-out instead of
   crashing (buffer/quadsegs) or emitting NaN geometry (mvt tile box).
2. ST_Equals on POINT EMPTY × POINT EMPTY must agree between the
   vectorized point×point fast path (mixed batch) and the object path.
3. GridIndex auto cell heuristic on an all-point batch must not collapse
   to a ~0 cell (query() over a realistic envelope would iterate
   (extent/cell)² buckets).
4. A bbox-windowed GeoParquet read must not drop a geometry whose
   centre is far outside the window while its bbox overlaps it.
"""

import os
import shutil

import pyspark.sql.functions as F
import pytest


CACHE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     ".cache", "round2_test")


@pytest.fixture(scope="module", autouse=True)
def clean_dir():
    shutil.rmtree(CACHE, ignore_errors=True)
    os.makedirs(CACHE, exist_ok=True)
    yield
    shutil.rmtree(CACHE, ignore_errors=True)


@pytest.fixture(scope="module")
def sql(spark):
    from datafusion_geo_spark.functions import register_all
    register_all(spark)

    def run(q):
        return spark.sql(q).collect()

    return run


# ------------------------------------------------- 1. NaN-null numeric args

NULL_ARG_QUERIES = [
    "SELECT ST_Buffer(ST_GeomFromText('POINT(0 0)'), CAST(NULL AS DOUBLE), 2) v",
    "SELECT ST_Buffer(ST_GeomFromText('POINT(0 0)'), 5.0, CAST(NULL AS INT)) v",
    "SELECT ST_AsMVTGeom(ST_GeomFromText('POINT(1 2)'), CAST(NULL AS DOUBLE), "
    "0.0, 4096.0, 4096.0) v",
    "SELECT ST_Translate(ST_GeomFromText('POINT(1 2)'), CAST(NULL AS DOUBLE), 1.0) v",
    "SELECT ST_GeomFromText('POINT(1 2)', CAST(NULL AS INT)) v",
    "SELECT ST_GeomFromWKB(ST_GeomFromText('POINT(1 2)'), CAST(NULL AS INT)) v",
    "SELECT ST_MakeEnvelope(0.0, 0.0, 1.0, 1.0, CAST(NULL AS INT)) v",
]


@pytest.mark.parametrize("q", NULL_ARG_QUERIES)
def test_null_numeric_arg_yields_null(sql, q):
    rows = sql(q)
    assert len(rows) == 1
    assert rows[0][0] is None, f"expected NULL out for: {q}"


def test_null_arg_in_mixed_batch(spark, sql):
    # nulls interleaved with real rows: the batch goes through the same
    # kernel; guarded rows null out, others stay correct
    from datafusion_geo_spark.functions import st_astext, st_buffer, st_geomfromtext
    df = spark.createDataFrame(
        [(1, "POINT(0 0)", 5.0), (2, "POINT(1 1)", None), (3, "POINT(2 2)", 1.0)],
        "id int, wkt string, w double")
    out = {r.id: r.v for r in df.select(
        "id", st_astext(st_buffer(st_geomfromtext(F.col("wkt")),
                                  F.col("w"), F.lit(2))).alias("v")).collect()}
    assert out[2] is None
    assert out[1] is not None and out[1].startswith("POLYGON")
    assert out[3] is not None and out[3].startswith("POLYGON")


# ------------------------------------------------- 2. POINT EMPTY equals

def test_equals_empty_points_mixed_batch(spark):
    from datafusion_geo_spark.functions import st_equals, st_geomfromtext
    df = spark.createDataFrame(
        [(1, "POINT EMPTY", "POINT EMPTY"),
         (2, "POINT(1 2)", "POINT(1 2)"),
         (3, "POINT EMPTY", "POINT(1 2)"),
         (4, "POINT(3 4)", "POINT(4 3)")],
        "id int, wa string, wb string")
    out = {r.id: r.eq for r in df.select("id", st_equals(
        st_geomfromtext(F.col("wa")),
        st_geomfromtext(F.col("wb"))).alias("eq")).collect()}
    assert out == {1: True, 2: True, 3: False, 4: False}


# ------------------------------------------------- 3. GridIndex point batches

def test_grid_index_all_points_terminates():
    from datafusion_geo_spark.geo.index import GridIndex
    # all-point batch: every envelope width is 0 → auto cell must fall
    # back to a data-extent-derived size, not 2e-9
    boxes = [(float(i), float(i), float(i), float(i)) for i in range(100)]
    idx = GridIndex(boxes)
    assert idx.cell >= 1e-3
    got = idx.query(-1000.0, -1000.0, 1000.0, 1000.0)  # must terminate
    assert got == list(range(100))
    assert idx.query(10.0, 10.0, 12.0, 12.0) == [10, 11, 12]


# ------------------------------------------------- 4. wide-geometry pruning

def test_pruned_read_keeps_wide_geometries(spark):
    from datafusion_geo_spark.functions import st_geomfromtext
    from datafusion_geo_spark.sources.geoio import (read_geoparquet_std,
                                                    write_geoparquet_std)
    out_dir = os.path.join(CACHE, "wide_pq")
    rows = [(i, f"POINT({(i % 40) * 5} {(i // 40) * 5})") for i in range(200)]
    # one geometry spanning x∈[0,400]: its centre (200, 0) is far outside
    # a (0,0,10,10) window, but its bbox overlaps it
    rows.append((999, "LINESTRING(0 0,400 0)"))
    src = (spark.createDataFrame(rows, "id long, wkt string")
           .withColumn("geom", st_geomfromtext(F.col("wkt"))).drop("wkt"))
    write_geoparquet_std(src, out_dir, covering=True)
    pruned = read_geoparquet_std(spark, out_dir, bbox=(0, 0, 10, 10))
    ids = {r.id for r in pruned.select("id").collect()}
    assert 999 in ids, "wide geometry dropped by the bbox window"
    # still actually prunes: far-away points are not read
    assert len(ids) < 200
    # row-group-skippable covering filter is native (pushed filters)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "bbox.xmin" in plan
