"""Unit tests for the beyond-reference measure functions (ST_Length,
ST_Perimeter, ST_Centroid, ST_ConvexHull, ST_Simplify, ST_Distance,
ST_DWithin) — algorithm edge cases through the DataFrame and SQL
surfaces. Fixture-level oracle checks live in test_entry_oracle.py."""

import pyspark.sql.functions as F
import pytest

from datafusion_geo_spark.functions import (register_all, st_astext,
                                            st_centroid, st_convexhull,
                                            st_distance, st_dwithin,
                                            st_geomfromtext, st_length,
                                            st_perimeter, st_simplify)


def _eval(spark, wkts, col):
    df = spark.createDataFrame([(i, w) for i, w in enumerate(wkts)],
                               "id int, wkt string")
    g = st_geomfromtext(F.col("wkt"))
    rows = df.select(col(g).alias("v")).orderBy("id").collect()
    return [r["v"] for r in rows]


def test_length_and_perimeter(spark):
    wkts = ["LINESTRING(0 0,3 4)", "POINT(1 1)",
            "POLYGON((0 0,4 0,4 4,0 4,0 0),(1 1,2 1,2 2,1 2,1 1))",
            "MULTILINESTRING((0 0,1 0),(0 0,0 2))"]
    assert _eval(spark, wkts, st_length) == [5.0, 0.0, 0.0, 3.0]
    assert _eval(spark, wkts, st_perimeter) == [0.0, 0.0, 20.0, 0.0]


def test_centroid_cases(spark):
    wkts = ["POLYGON((0 0,4 0,4 4,0 4,0 0))",
            "POLYGON((0 0,4 0,4 4,0 4,0 0),(2 2,3 2,3 3,2 3,2 2))",
            "LINESTRING(0 0,0 2,2 2)",
            "MULTIPOINT(0 0,2 0,2 2,0 2)",
            "POINT EMPTY"]
    got = _eval(spark, wkts, lambda g: st_astext(st_centroid(g)))
    assert got[0] == "POINT(2 2)"
    # hole subtracted: (16*2 - 1*2.5)/15
    assert got[1].startswith("POINT(1.9666666666666")
    assert got[2] == "POINT(0.5 1.5)"
    assert got[3] == "POINT(1 1)"
    assert got[4] == "POINT EMPTY"


def test_convex_hull_degenerates(spark):
    wkts = ["MULTIPOINT(0 0,1 0,1 1,0 1,0.5 0.5)",
            "MULTIPOINT(0 0,1 1,2 2)",
            "POINT(7 8)",
            "GEOMETRYCOLLECTION(POINT(0 0),LINESTRING(2 0,2 2))"]
    got = _eval(spark, wkts, lambda g: st_astext(st_convexhull(g)))
    assert got[0] == "POLYGON((0 0,1 0,1 1,0 1,0 0))"
    assert got[1] == "LINESTRING(0 0,2 2)"
    assert got[2] == "POINT(7 8)"
    assert got[3] == "POLYGON((0 0,2 0,2 2,0 0))"


def test_simplify_ring_collapse_and_holes(spark):
    # tiny triangle collapses below 4 ring points at tol 10 -> empty;
    # the hole below tolerance disappears while the shell survives
    wkts = ["POLYGON((0 0,1 0,1 1,0 0))",
            "POLYGON((0 0,40 0,40 40,0 40,0 0),(1 1,2 1,2 2,1 2,1 1))"]
    got = _eval(spark, wkts,
                lambda g: st_astext(st_simplify(g, 10.0)))
    assert got[0] == "POLYGON EMPTY"
    assert got[1] == "POLYGON((0 0,40 0,40 40,0 40,0 0))"


def test_distance_combinations(spark):
    df = spark.createDataFrame(
        [(1, "POINT(0 0)", "POINT(3 4)"),
         (2, "POINT(5 0)", "POLYGON((0 0,2 0,2 2,0 2,0 0))"),
         (3, "POINT(1 1)", "POLYGON((0 0,2 0,2 2,0 2,0 0))"),
         (4, "LINESTRING(0 0,1 0)", "LINESTRING(0 2,1 2)"),
         (5, "POINT EMPTY", "POINT(1 1)"),
         # point strictly inside the HOLE: distance to hole edge
         (6, "POINT(2.5 2.5)",
          "POLYGON((0 0,5 0,5 5,0 5,0 0),(2 2,3 2,3 3,2 3,2 2))")],
        "id int, a string, b string")
    ga, gb = st_geomfromtext(F.col("a")), st_geomfromtext(F.col("b"))
    got = {r["id"]: r["d"] for r in
           df.select("id", st_distance(ga, gb).alias("d")).collect()}
    assert got[1] == 5.0
    assert got[2] == 3.0
    assert got[3] == 0.0
    assert got[4] == 2.0
    assert got[5] is None
    assert got[6] == 0.5


def test_distance_point_column_vs_const_polygon_fast_path(spark):
    """Point batch × constant holed polygon goes through the numpy
    per-edge fast path, including inside-hole handling."""
    rows = [(0, 0.0, 0.5), (1, 1.0, 0.5), (2, 2.5, 0.5),
            (3, 2.0, 0.5), (4, 7.0, 0.5)]
    df = spark.createDataFrame(rows, "id int, x double, y double")
    from datafusion_geo_spark.functions import st_point
    poly = "POLYGON((0 0,5 0,5 5,0 5,0 0),(2 0.25,3 0.25,3 0.75,2 0.75,2 0.25))"
    got = {r["id"]: r["d"] for r in df.select(
        "id", st_distance(st_point(F.col("x"), F.col("y")), poly).alias("d")
    ).collect()}
    assert got[0] == 0.0          # on shell boundary
    assert got[1] == 0.0          # inside polygon
    assert got[2] == 0.25         # hole interior: distance to hole edge
    assert got[3] == 0.0          # on hole boundary (part of the polygon)
    assert got[4] == 2.0          # right of shell: x=7 -> 2 from x=5


def test_dwithin(spark):
    df = spark.createDataFrame([(1, "POINT(0 0)")], "id int, wkt string")
    g = st_geomfromtext(F.col("wkt"))
    row = df.select(
        st_dwithin(g, "POINT(3 4)", 5.0).alias("yes"),
        st_dwithin(g, "POINT(3 4)", 4.999).alias("no")).collect()[0]
    assert row["yes"] is True and row["no"] is False


def test_sql_registration_measures(spark):
    register_all(spark)
    row = spark.sql("""
        SELECT ST_Length(ST_GeomFromText('LINESTRING(0 0,3 4)')) AS l,
               ST_Perimeter(ST_GeomFromText('POLYGON((0 0,1 0,1 1,0 1,0 0))')) AS p,
               ST_AsText(ST_Centroid(ST_GeomFromText('POLYGON((0 0,2 0,2 2,0 2,0 0))'))) AS c,
               ST_AsText(ST_ConvexHull(ST_GeomFromText('MULTIPOINT(0 0,1 1,2 2)'))) AS h,
               ST_AsText(ST_Simplify(ST_GeomFromText('LINESTRING(0 0,1 0.1,2 0)'), 0.5)) AS s,
               ST_Distance(ST_GeomFromText('POINT(0 0)'),
                           ST_GeomFromText('POINT(3 4)')) AS d,
               ST_DWithin(ST_GeomFromText('POINT(0 0)'),
                          ST_GeomFromText('POINT(3 4)'), 5.0) AS w
    """).collect()[0]
    assert row["l"] == 5.0 and row["p"] == 4.0
    assert row["c"] == "POINT(1 1)"
    assert row["h"] == "LINESTRING(0 0,2 2)"
    assert row["s"] == "LINESTRING(0 0,2 0)"
    assert row["d"] == 5.0 and row["w"] is True


def test_collect_points_agg(spark):
    from datafusion_geo_spark.functions import st_collect_points_agg
    df = spark.createDataFrame(
        [("a", 2.0, 1.0), ("a", 1.0, 5.5), ("a", 1.0, -3.0), ("b", 0.0, 0.0)],
        "g string, x double, y double")
    got = {r["g"]: r["wkt"] for r in
           df.groupBy("g").agg(
               st_collect_points_agg(F.col("x"), F.col("y")).alias("wkt")
           ).collect()}
    # canonical order: lexicographic (x, y)
    assert got["a"] == "MULTIPOINT(1.0 -3.0,1.0 5.5,2.0 1.0)"
    assert got["b"] == "MULTIPOINT(0.0 0.0)"


def test_collect_points_agg_plan_is_native(spark):
    """The collect aggregate must run as a plain ObjectHashAggregate /
    SortAggregate over collect_list — no Python stage."""
    from datafusion_geo_spark.functions import st_collect_points_agg
    df = spark.createDataFrame([("a", 1.0, 2.0)], "g string, x double, y double")
    plan = (df.groupBy("g")
            .agg(st_collect_points_agg(F.col("x"), F.col("y")).alias("w"))
            ._jdf.queryExecution().executedPlan().toString())
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_transform_roundtrip_and_ewkb_srid_source(spark):
    from datafusion_geo_spark.functions import (box2d, st_srid,
                                                st_transform)
    # EWKB source SRID (no from_srid argument), roundtrip near-identity
    df = spark.createDataFrame([(1, "POINT(-71.06 42.28)")],
                               "id int, wkt string")
    g = st_geomfromtext(F.col("wkt"), 4326)
    merc = st_transform(g, 3857)
    back = st_transform(merc, 4326)
    row = df.select(st_srid(merc).alias("s"),
                    box2d(merc)["xmin"].alias("mx"),
                    box2d(back)["xmin"].alias("lon"),
                    box2d(back)["ymin"].alias("lat")).collect()[0]
    assert row["s"] == 3857
    # R * radians(-71.06) — standard spherical web-mercator x
    assert abs(row["mx"] - (-7910363.0)) < 1.0
    assert abs(row["lon"] - (-71.06)) < 1e-9
    assert abs(row["lat"] - 42.28) < 1e-9


def test_transform_linestring_object_path(spark):
    from datafusion_geo_spark.functions import st_astext, st_transform
    df = spark.createDataFrame([(1, "LINESTRING(0 0,90 0)")],
                               "id int, wkt string")
    g = st_geomfromtext(F.col("wkt"))
    out = df.select(st_astext(
        st_transform(g, 3857, from_srid=4326)).alias("w")).collect()[0]["w"]
    # lat 0 maps to ~0 (exactly R*ln(tan(fl(pi/4))) ≈ -7.1e-10, not 0.0
    # — tan of the rounded pi/4 is not exactly 1); x(90°) = R*pi/2
    assert out.startswith("LINESTRING(0 ")
    assert "10018754.17" in out


def test_transform_errors(spark):
    import pytest as _pt
    from datafusion_geo_spark.functions import st_transform
    df = spark.createDataFrame([(1, "POINT(0 95)")], "id int, wkt string")
    g = st_geomfromtext(F.col("wkt"))
    with _pt.raises(Exception):   # latitude out of range
        df.select(st_transform(g, 3857, from_srid=4326)).collect()
    with _pt.raises(Exception):   # unsupported pair
        df.select(st_transform(g, 2154, from_srid=4326)).collect()
    with _pt.raises(Exception):   # unknown source SRID (plain WKB)
        df.select(st_transform(g, 3857)).collect()


def test_transform_sql_variadic(spark):
    register_all(spark)
    row = spark.sql("""
        SELECT ST_SRID(ST_Transform(
                 ST_GeomFromText('POINT(10 20)', 4326), 3857)) AS a,
               ST_SRID(ST_Transform(
                 ST_GeomFromText('POINT(10 20)'), 3857, 4326)) AS b
    """).collect()[0]
    assert row["a"] == 3857 and row["b"] == 3857


def test_accessors_family(spark):
    from datafusion_geo_spark.functions import (st_geometryn,
                                                st_numgeometries, st_pointn,
                                                st_x, st_y)
    df = spark.createDataFrame(
        [(1, "MULTIPOINT(1 2,3 4)"),
         (2, "GEOMETRYCOLLECTION(POINT(5 6),LINESTRING(0 0,1 1))"),
         (3, "POINT(7 8)"),
         (4, "POINT EMPTY"),
         (5, "LINESTRING(0 0,1 1,2 2)")],
        "id int, wkt string")
    g = st_geomfromtext(F.col("wkt"))
    got = {r["id"]: r for r in df.select(
        "id",
        st_numgeometries(g).alias("n"),
        st_astext(st_geometryn(g, 2)).alias("g2"),
        st_astext(st_pointn(g, -1)).alias("pn"),
        st_x(g).alias("x"), st_y(g).alias("y")).collect()}
    assert got[1]["n"] == 2 and got[1]["g2"] == "POINT(3 4)"
    assert got[2]["n"] == 2 and got[2]["g2"] == "LINESTRING(0 0,1 1)"
    assert got[3]["n"] == 1 and got[3]["g2"] is None
    assert got[3]["x"] == 7.0 and got[3]["y"] == 8.0
    assert got[4]["n"] == 0 and got[4]["x"] is None
    assert got[5]["pn"] == "POINT(2 2)"  # negative index from the end
    assert got[5]["x"] is None           # not a point


def test_accessors_sql_registration(spark):
    register_all(spark)
    row = spark.sql("""
        SELECT ST_X(ST_GeomFromText('POINT(3 4)')) AS x,
               ST_Y(ST_GeomFromText('POINT(3 4)')) AS y,
               ST_NumGeometries(ST_GeomFromText('MULTIPOINT(0 0,1 1)')) AS n,
               ST_AsText(ST_GeometryN(
                 ST_GeomFromText('MULTIPOINT(0 0,1 1)'), 1)) AS g1,
               ST_AsText(ST_PointN(
                 ST_GeomFromText('LINESTRING(0 0,5 5)'), 2)) AS p2
    """).collect()[0]
    assert (row["x"], row["y"], row["n"]) == (3.0, 4.0, 2)
    assert row["g1"] == "POINT(0 0)" and row["p2"] == "POINT(5 5)"


def test_geometry_n_direct_members_not_flattened(spark):
    """ST_GeometryN must index DIRECT members (PostGIS), consistent with
    ST_NumGeometries — a collection holding a MultiPoint has 2 members,
    not one per flattened point (review finding)."""
    from datafusion_geo_spark.functions import st_geometryn, st_numgeometries
    df = spark.createDataFrame(
        [(1, "GEOMETRYCOLLECTION(MULTIPOINT(0 0,1 1),LINESTRING(0 0,2 2))")],
        "id int, wkt string")
    g = st_geomfromtext(F.col("wkt"))
    row = df.select(
        st_numgeometries(g).alias("n"),
        st_astext(st_geometryn(g, 1)).alias("g1"),
        st_astext(st_geometryn(g, 2)).alias("g2"),
        st_astext(st_geometryn(g, 3)).alias("g3")).collect()[0]
    assert row["n"] == 2
    assert row["g1"] == "MULTIPOINT(0 0,1 1)"
    assert row["g2"] == "LINESTRING(0 0,2 2)"
    assert row["g3"] is None


def test_distance_all_empty_collection_is_null(spark):
    """A collection of only-empty members must yield NULL, not Infinity
    (review finding)."""
    from datafusion_geo_spark.functions import st_distance
    df = spark.createDataFrame(
        [(1, "GEOMETRYCOLLECTION(POINT EMPTY)", "POINT(0 0)")],
        "id int, a string, b string")
    row = df.select(st_distance(st_geomfromtext(F.col("a")),
                                st_geomfromtext(F.col("b"))).alias("d")
                    ).collect()[0]
    assert row["d"] is None


def test_start_end_point_sql_registered(spark):
    register_all(spark)
    row = spark.sql("""
        SELECT ST_AsText(ST_StartPoint(
                 ST_GeomFromText('LINESTRING(1 2,3 4)'))) AS s,
               ST_AsText(ST_EndPoint(
                 ST_GeomFromText('LINESTRING(1 2,3 4)'))) AS e
    """).collect()[0]
    assert row["s"] == "POINT(1 2)" and row["e"] == "POINT(3 4)"


def test_envelope_forms(spark):
    from datafusion_geo_spark.functions import st_envelope
    wkts = ["LINESTRING(1 2,5 7)", "POINT(3 4)",
            "LINESTRING(0 5,9 5)", "MULTIPOINT EMPTY"]
    got = _eval(spark, wkts, lambda g: st_astext(st_envelope(g)))
    assert got[0] == "POLYGON((1 2,5 2,5 7,1 7,1 2))" or \
           got[0] == "POLYGON((1 2,1 7,5 7,5 2,1 2))"
    assert got[1] == "POINT(3 4)"
    assert got[2] == "LINESTRING(0 5,9 5)"
    assert got[3] == "POINT EMPTY"


def test_envelope_sql(spark):
    register_all(spark)
    row = spark.sql("SELECT ST_AsText(ST_Envelope(ST_GeomFromText("
                    "'LINESTRING(0 0,2 3)'))) AS e").collect()[0]
    assert "POLYGON" in row["e"]


def test_line_interpolate_point_semantics(spark):
    from datafusion_geo_spark.functions import st_lineinterpolatepoint
    df = spark.createDataFrame(
        [(1, "LINESTRING(0 0,10 0,10 10)", 0.5),
         (2, "LINESTRING(0 0,10 0,10 10)", 0.0),
         (3, "LINESTRING(0 0,10 0,10 10)", 2.5),    # clamps to 1
         (4, "LINESTRING(0 0,10 0,10 10)", -1.0),   # clamps to 0
         (5, "LINESTRING(3 4,3 4)", 0.7)],          # zero length
        "id int, wkt string, f double")
    g = st_geomfromtext(F.col("wkt"))
    got = {r["id"]: r["p"] for r in df.select(
        "id", st_astext(st_lineinterpolatepoint(g, F.col("f"))).alias("p")
    ).collect()}
    assert got[1] == "POINT(10 0)"      # half of 20 = exactly the bend
    assert got[2] == "POINT(0 0)"
    assert got[3] == "POINT(10 10)"
    assert got[4] == "POINT(0 0)"
    assert got[5] == "POINT(3 4)"
    # non-linear input raises (PostGIS parity)
    df2 = spark.createDataFrame([(1, "POINT(0 0)")], "id int, wkt string")
    with pytest.raises(Exception):
        df2.select(st_lineinterpolatepoint(
            st_geomfromtext(F.col("wkt")), 0.5)).collect()


def test_line_interpolate_sql(spark):
    register_all(spark)
    row = spark.sql("SELECT ST_AsText(ST_LineInterpolatePoint("
                    "ST_GeomFromText('LINESTRING(0 0,4 0)'), 0.25)) AS p"
                    ).collect()[0]
    assert row["p"] == "POINT(1 0)"


def test_line_locate_point_roundtrip_and_errors(spark):
    from datafusion_geo_spark.functions import (st_lineinterpolatepoint,
                                                st_linelocatepoint)
    df = spark.createDataFrame([(1, 0.3), (2, 0.8)], "id int, f double")
    line = st_geomfromtext(F.lit("LINESTRING(0 0,10 0,10 10)"))
    got = {r["id"]: r["back"] for r in df.select(
        "id", st_linelocatepoint(
            line, st_lineinterpolatepoint(line, F.col("f"))).alias("back")
    ).collect()}
    assert got[1] == pytest.approx(0.3) and got[2] == pytest.approx(0.8)
    df2 = spark.createDataFrame([(1, "POINT(0 0)")], "id int, wkt string")
    with pytest.raises(Exception):   # non-linear first arg
        df2.select(st_linelocatepoint(
            st_geomfromtext(F.col("wkt")), "POINT(1 1)")).collect()


def test_geohash_properties(spark):
    from datafusion_geo_spark.functions import st_geohash
    df = spark.createDataFrame(
        [(1, "POINT(10.40744 57.64911)"), (2, "POINT(10.40745 57.64912)"),
         (3, "POINT(-170 -80)"), (4, "POINT EMPTY")],
        "id int, wkt string")
    g = st_geomfromtext(F.col("wkt"))
    got = {r["id"]: (r["g4"], r["g8"]) for r in df.select(
        "id", st_geohash(g, 4).alias("g4"), st_geohash(g, 8).alias("g8")
    ).collect()}
    # prefix property: a shorter geohash is a prefix of a longer one
    assert got[1][1].startswith(got[1][0])
    # nearby points share a prefix
    assert got[1][0] == got[2][0]
    assert got[3][0] is not None and got[4][0] is None
    # out-of-range coordinates raise
    df2 = spark.createDataFrame([(1, "POINT(500 500)")], "id int, wkt string")
    with pytest.raises(Exception):
        df2.select(st_geohash(st_geomfromtext(F.col("wkt")), 4)).collect()


def test_azimuth_quadrants_sql(spark):
    import math
    register_all(spark)
    row = spark.sql("""
        SELECT ST_Azimuth(ST_GeomFromText('POINT(0 0)'),
                          ST_GeomFromText('POINT(1 -1)')) AS se,
               ST_Azimuth(ST_GeomFromText('POINT(2 2)'),
                          ST_GeomFromText('POINT(2 2)')) AS self,
               ST_GeoHash(ST_GeomFromText('POINT(-5.6 42.6)'), 5) AS gh
    """).collect()[0]
    assert row["se"] == pytest.approx(3 * math.pi / 4)
    assert row["self"] is None
    assert row["gh"] == "ezs42"


def test_geohash_full_precision_default(spark):
    from datafusion_geo_spark.functions import st_geohash
    register_all(spark)
    df = spark.createDataFrame([(1, "POINT(-5.6 42.6)")], "id int, wkt string")
    g = st_geomfromtext(F.col("wkt"))
    row = df.select(st_geohash(g).alias("full"),
                    st_geohash(g, 0).alias("zero")).collect()[0]
    assert len(row["full"]) == 20 and row["full"].startswith("ezs42")
    assert row["zero"] == row["full"]       # PostGIS: <=0 -> full
    sql_row = spark.sql("SELECT ST_GeoHash(ST_GeomFromText("
                        "'POINT(-5.6 42.6)')) AS g").collect()[0]
    assert sql_row["g"] == row["full"]      # 1-arg SQL form works


def test_closest_point_cases(spark):
    from datafusion_geo_spark.functions import st_closestpoint
    df = spark.createDataFrame(
        [(1, "LINESTRING(0 0,10 0)", "POINT(3 5)"),
         (2, "LINESTRING(0 0,10 0)", "POINT(-4 2)"),
         (3, "POINT(7 8)", "LINESTRING(0 0,10 0)"),
         (4, "POLYGON((0 0,4 0,4 4,0 4,0 0))", "POINT(6 2)"),
         (5, "POINT EMPTY", "POINT(1 1)")],
        "id int, a string, b string")
    got = {r["id"]: r["p"] for r in df.select(
        "id", st_astext(st_closestpoint(
            st_geomfromtext(F.col("a")),
            st_geomfromtext(F.col("b")))).alias("p")).collect()}
    assert got[1] == "POINT(3 0)"
    assert got[2] == "POINT(0 0)"
    assert got[3] == "POINT(7 8)"       # witness lives on the FIRST arg
    assert got[4] == "POINT(4 2)"       # on the polygon's boundary
    assert got[5] == "POINT EMPTY"


def test_closest_point_intersecting_returns_intersection(spark):
    """When the operands INTERSECT, the witness must be an actual shared
    point (PostGIS parity; advisor-flagged r4: crossing linestrings
    returned (3,0), ~0.447 away from the second operand)."""
    from datafusion_geo_spark.functions import st_closestpoint
    df = spark.createDataFrame(
        [(1, "LINESTRING(0 0,10 0)", "LINESTRING(3 -1,5 3)"),   # X crossing
         (2, "LINESTRING(0 0,10 0)", "LINESTRING(4 0,6 0)"),    # collinear
         (3, "POLYGON((0 0,4 0,4 4,0 4,0 0))", "POINT(1 2)"),   # pt inside
         (4, "LINESTRING(0 0,10 10)", "POINT(5 5)"),            # pt on line
         (5, "POLYGON((0 0,4 0,4 4,0 4,0 0))",
          "POLYGON((3 3,6 3,6 6,3 6,3 3))")],                   # overlap
        "id int, a string, b string")
    got = {r["id"]: r["p"] for r in df.select(
        "id", st_astext(st_closestpoint(
            st_geomfromtext(F.col("a")),
            st_geomfromtext(F.col("b")))).alias("p")).collect()}
    assert got[1] == "POINT(3.5 0)"     # the true crossing of the two
    assert got[2] == "POINT(4 0)"       # b's endpoint on a
    assert got[3] == "POINT(1 2)"       # the point itself (inside a)
    assert got[4] == "POINT(5 5)"
    assert got[5] == "POINT(4 4)"       # a's vertex inside b (a-side
                                        # vertices are preferred: exact
                                        # "on a" witness)
    # the witness invariant now holds for intersecting operands too:
    # distance(a, witness) == 0 AND distance(witness, b) == 0
    register_all(spark)
    for a, b in [("LINESTRING(0 0,10 0)", "LINESTRING(3 -1,5 3)"),
                 ("POLYGON((0 0,4 0,4 4,0 4,0 0))",
                  "POLYGON((3 3,6 3,6 6,3 6,3 3))")]:
        row = spark.sql(f"""
            SELECT ST_Distance(ST_ClosestPoint(ST_GeomFromText('{a}'),
                                               ST_GeomFromText('{b}')),
                               ST_GeomFromText('{b}')) AS dw
        """).collect()[0]
        assert row["dw"] == pytest.approx(0.0, abs=1e-9)


def test_closest_point_consistent_with_distance(spark):
    """distance(a, b) == distance(closest_point(a,b), b) — the witness
    property, checked through SQL."""
    register_all(spark)
    row = spark.sql("""
        SELECT ST_Distance(ST_GeomFromText('LINESTRING(2 3,9 7)'),
                           ST_GeomFromText('POINT(1 -4)')) AS d,
               ST_Distance(ST_ClosestPoint(
                             ST_GeomFromText('LINESTRING(2 3,9 7)'),
                             ST_GeomFromText('POINT(1 -4)')),
                           ST_GeomFromText('POINT(1 -4)')) AS dw
    """).collect()[0]
    assert row["d"] == pytest.approx(row["dw"], abs=1e-12)


def test_shortest_line_and_project(spark):
    import math
    import pyspark.sql.functions as F
    from datafusion_geo_spark.functions import (st_astext, st_azimuth,
                                                st_geomfromtext, st_point,
                                                st_project,
                                                st_shortestline)
    df = spark.createDataFrame(
        [("POINT(0 0)", "LINESTRING(2 -1,2 1)"),
         ("LINESTRING(0 0,10 0)", "LINESTRING(3 -1,5 3)")],
        "a string, b string")
    got = [r["sl"] for r in df.select(
        st_astext(st_shortestline(st_geomfromtext(F.col("a")),
                                  st_geomfromtext(F.col("b"))))
        .alias("sl")).collect()]
    assert got == ["LINESTRING(0 0,2 0)",
                   "LINESTRING(3.5 0,3.5 0)"]   # intersecting: degenerate
    # azimuth round-trip: azimuth(p, project(p, d, az)) == az
    p = st_point(F.lit(1.0), F.lit(1.0))
    for az in (0.1, 1.0, math.pi / 2, 3.0, 5.5):
        r = spark.range(1).select(
            st_azimuth(p, st_project(p, 7.0, az)).alias("az")).collect()[0]
        assert abs(r["az"] - az) < 1e-12
