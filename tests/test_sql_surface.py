"""Golden end-to-end SQL tests — the reference's dominant test pattern
(SURVEY.md §5.1: per-function `ctx.sql(...)` + golden output, colocated in
every /root/reference/src/function/*.rs). Each test here runs the
reference's OWN test query through the SQL-registered surface and asserts
its golden value, so name resolution, arity overloads, and output
formatting are all checked at the SQL layer (the oracle gate covers the
DataFrame layer).
"""

import json
import math
import re

import pytest


@pytest.fixture(scope="module")
def sql(spark):
    from datafusion_geo_spark.functions import register_all
    register_all(spark)

    def run(q):
        return spark.sql(q).collect()

    return run


def one(sql, q):
    rows = sql(q)
    assert len(rows) == 1
    return rows[0][0]


# -- scalar goldens (query + expected, file:line = reference test) -------

GOLDENS = [
    # geom_from_text.rs:102-114
    ("select ST_AsText(ST_GeomFromText('POINT(-71.064544 42.28787)')) v",
     "POINT(-71.064544 42.28787)"),
    # geom_from_text.rs:124-133 (optional-SRID overload under the same name)
    ("select ST_AsEWKT(ST_GeomFromText('POINT(-71.064544 42.28787)', 4269)) v",
     "SRID=4269;POINT(-71.064544 42.28787)"),
    # geom_from_wkb.rs:103-114
    ("select ST_AsText(ST_GeomFromWKB(x'0101000000cb49287d21c451c0f0bf95ecd8244540')) v",
     "POINT(-71.064544 42.28787)"),
    # ST_GeomFromGeoJSON: beyond-ref (the reference only serializes,
    # as_geojson.rs:88-110); golden mirrors the serializer's canonical form
    ("""select ST_AsText(ST_GeomFromGeoJSON('{"type":"Point","coordinates":[-71.064544,42.28787]}')) v""",
     "POINT(-71.064544 42.28787)"),
    ("""select ST_AsGeoJSON(ST_GeomFromGeoJSON('{"type":"LineString","coordinates":[[0,0],[5,5]]}')) v""",
     '{"type":"LineString","coordinates":[[0,0],[5,5]]}'),
    # geom_from_wkb.rs:125-134
    ("select ST_AsEWKT(ST_GeomFromWKB(x'0101000000cb49287d21c451c0f0bf95ecd8244540', 4269)) v",
     "SRID=4269;POINT(-71.064544 42.28787)"),
    # as_ewkt.rs:122-131
    ("select ST_AsEWKT(ST_GeomFromText('POINT(-71.064544 42.28787)', 4269)) v",
     "SRID=4269;POINT(-71.064544 42.28787)"),
    # boundary.rs:109-118
    ("SELECT ST_AsText(ST_Boundary(ST_GeomFromText('POLYGON((1 1,0 0, -1 1, 1 1))'))) v",
     "LINESTRING(1 1,0 0,-1 1,1 1)"),
    # covered_by.rs:136-145
    ("select ST_CoveredBy(ST_GeomFromText('POINT(1 1)'), ST_GeomFromText('LINESTRING ( 1 1, 0 2 )')) v",
     True),
    # covers.rs:137-146
    ("select ST_Covers(ST_GeomFromText('LINESTRING ( 1 1, 0 2 )'), ST_GeomFromText('POINT(1 1)')) v",
     True),
    # equals.rs:137-148 — TOPOLOGICAL equality, the reference's key case
    ("SELECT ST_Equals(ST_GeomFromText('LINESTRING(0 0, 10 10)'), ST_GeomFromText('LINESTRING(0 0, 5 5, 10 10)')) v",
     True),
    # geometry_type.rs:108-117
    ("select ST_GeometryType(ST_GeomFromText('POINT(1 1)')) v", "ST_Point"),
    # helper-surface goldens (previously only covered at DataFrame level)
    ("select ST_AsText(ST_Point(3.5, -4.25)) v", "POINT(3.5 -4.25)"),
    ("select ST_NPoints(ST_GeomFromText('LINESTRING(0 0,1 1,2 2)')) v", 3),
    ("select ST_Area(ST_GeomFromText('POLYGON((0 0,4 0,4 4,0 4,0 0))')) v",
     16.0),
    ("select ST_Area(ST_GeomFromText("
     "'POLYGON((0 0,12 0,12 12,0 12,0 0),(4 4,4 8,8 8,8 4,4 4))')) v",
     128.0),
    # intersects.rs:153-164
    ("select ST_Intersects(ST_GeomFromText('POINT(1 1)'), ST_GeomFromText('LINESTRING ( 1 1, 0 2 )')) v",
     True),
    # make_envelope.rs:131-140
    ("select ST_AsEWKT(ST_MakeEnvelope(10, 10, 11, 11)) v",
     "POLYGON((10 10,10 11,11 11,11 10,10 10))"),
    # make_envelope.rs:146-155 (SRID overload)
    ("select ST_AsEWKT(ST_MakeEnvelope(10, 10, 11, 11, 4236)) v",
     "SRID=4236;POLYGON((10 10,10 11,11 11,11 10,10 10))"),
    # srid.rs:93-102
    ("select ST_SRID(ST_GeomFromText('POINT(1 1)', 4269)) v", 4269),
    # translate.rs:125-134
    ("select ST_AsText(ST_Translate(ST_GeomFromText('POINT(-71.064544 42.28787)'), 1.0, 2.0)) v",
     "POINT(-70.064544 44.28787)"),
    # as_mvt_geom.rs:127-136 — reference signature is (geom, Box2d); ours
    # takes the box as four doubles (st_asmvtgeom_box covers the struct form)
    ("select ST_AsText(ST_AsMVTGeom(ST_GeomFromText('POLYGON ((0 0, 10 0, 10 5, 0 -5, 0 0))'), 0d, 0d, 4096d, 4096d)) v",
     "POLYGON((0 4096,10 4096,10 4091,0 4101,0 4096))"),
]


@pytest.mark.parametrize("query,expected", GOLDENS,
                         ids=[re.search(r"ST_\w+", q).group(0) + f"_{i}"
                              for i, (q, _) in enumerate(GOLDENS)])
def test_reference_golden(sql, query, expected):
    assert one(sql, query) == expected


def test_box2d_golden(sql):
    """box2d.rs:104-113: {xmin: 1.0, ymin: 2.0, xmax: 5.0, ymax: 6.0}."""
    row = one(sql, "select Box2D(ST_GeomFromText('LINESTRING(1 2, 3 4, 5 6)')) v")
    assert (row.xmin, row.ymin, row.xmax, row.ymax) == (1.0, 2.0, 5.0, 6.0)


def test_as_geojson_golden_semantic(sql):
    """as_geojson.rs:131-140. The reference golden has geozero's spaces
    after top-level colons; JSON-compare instead of string-compare."""
    v = one(sql, "select ST_AsGeoJSON(ST_GeomFromText('POINT(-71.064544 42.28787)')) v")
    assert json.loads(v) == {"type": "Point",
                             "coordinates": [-71.064544, 42.28787]}


def test_buffer_golden_vertices(sql):
    """buffer.rs:126-135, quadsegs=2. Same vertex set as the reference's
    GEOS golden; ring orientation and <1e-9 float dust may differ, so
    compare vertices as a set with tolerance."""
    ref = [(150, 90), (135.35533905932738, 54.64466094067263), (100, 40),
           (64.64466094067262, 54.64466094067262), (50, 90),
           (64.64466094067262, 125.35533905932738), (99.99999999999999, 140),
           (135.35533905932738, 125.35533905932738), (150, 90)]
    v = one(sql, "SELECT ST_AsText(ST_Buffer(ST_GeomFromText('POINT(100 90)'), 50.0, 2)) v")
    got = [tuple(map(float, p.split()))
           for p in v[len("POLYGON(("):-2].split(",")]
    assert len(got) == len(ref)
    for p in set(ref):
        assert any(math.dist(p, g) < 1e-6 for g in got), p


def test_split_postgis_semantics(sql):
    """split.rs:145-154 is author-flagged broken (FIXME, asserts commented
    out); we pin the PostGIS/shapely-correct result instead (SURVEY.md §7.2)."""
    v = one(sql, "select ST_AsText(ST_Split(ST_GeomFromText('LINESTRING ( 0 0, 1 1, 2 2 )'), ST_GeomFromText('POINT(1 1)'))) v")
    assert v == "GEOMETRYCOLLECTION(LINESTRING(0 0,1 1),LINESTRING(1 1,2 2))"


# -- table-driven goldens ------------------------------------------------

def test_intersects_table(spark, sql):
    """intersects.rs:168-216: 3 linestrings registered twice (2 MemTable
    partitions) scanned with a scalar rhs -> [t,f,f] repeated per
    partition."""
    wkts = [f"LINESTRING({i} {i + 1},{i + 2} {i + 3},{i + 4} {i + 5})"
            for i in range(3)]
    df = spark.createDataFrame([(w,) for w in wkts] * 2, "wkt string")
    df.selectExpr("ST_GeomFromText(wkt) geom") \
      .createOrReplaceTempView("geom_table_6")
    rows = sql("select ST_Intersects(geom, ST_GeomFromText('POINT(0 1)')) v "
               "from geom_table_6")
    assert [r.v for r in rows] == [True, False, False, True, False, False]


def test_extent_grouped_sql(spark, sql):
    """extent.rs:170-219: the reference's own UDAF SQL runs verbatim via
    the registered ST_Extent + ST_Box2DFromArray bridge; goldens
    a=(0,1,5,6), b=(2,3,7,8)."""
    wkts = [f"LINESTRING({i} {i + 1},{i + 2} {i + 3},{i + 4} {i + 5})"
            for i in range(4)]
    df = spark.createDataFrame(
        list(zip(wkts, ["a", "a", "b", "b"])), "wkt string, name string")
    df.selectExpr("ST_GeomFromText(wkt) geom", "name") \
      .createOrReplaceTempView("geom_table_ext")
    rows = sql("select ST_Box2DFromArray(ST_Extent(geom)) e, name "
               "from geom_table_ext group by name order by name")
    got = [(r.name, r.e.xmin, r.e.ymin, r.e.xmax, r.e.ymax) for r in rows]
    assert got == [("a", 0.0, 1.0, 5.0, 6.0), ("b", 2.0, 3.0, 7.0, 8.0)]


def test_disjoint_and_fixture_views_sql_only(spark):
    """SQL-first UX: register functions + fixture views and run a pure
    SQL spatial query, including the new ST_Disjoint."""
    from datafusion_geo_spark.functions import register_all
    from datafusion_geo_spark.sources.fixtures import register_fixture_views
    register_all(spark)
    register_fixture_views(spark, "/root/testdata/sf0.001")
    row = spark.sql("""
        SELECT SUM(CASE WHEN ST_Disjoint(geom,
                     ST_GeomFromText('POINT(10 11)')) THEN 1 ELSE 0 END) AS n_dis,
               SUM(CASE WHEN ST_Intersects(geom,
                     ST_GeomFromText('POINT(10 11)')) THEN 1 ELSE 0 END) AS n_hit,
               COUNT(geom) AS n
        FROM lines
    """).collect()[0]
    assert row["n_dis"] + row["n_hit"] == row["n"] and row["n"] > 0
    assert spark.sql("SELECT ST_Disjoint(ST_GeomFromText('POINT(0 0)'), "
                     "ST_GeomFromText('POINT(0 0)'))").collect()[0][0] is False


def test_sql_defaulted_trailing_argument_may_be_omitted(sql):
    """A SQL call may omit the trailing argument the Column API defaults
    (st_buffer quadsegs=8, st_chaikinsmoothing iterations=1,
    st_subdivide max_vertices=128), with the same result as passing it."""
    row = sql("""
        SELECT ST_AsText(ST_Buffer(g, 1.5)) AS buf,
               ST_AsText(ST_Buffer(g, 1.5, 8)) AS buf8,
               ST_AsText(ST_ChaikinSmoothing(l)) AS ch,
               ST_AsText(ST_ChaikinSmoothing(l, 1)) AS ch1,
               ST_Subdivide(l) AS sub,
               ST_Subdivide(l, 128) AS sub128
        FROM (SELECT ST_GeomFromText('POINT(1 2)') AS g,
                     ST_GeomFromText('LINESTRING(0 0,4 0,4 4)') AS l)
    """)[0]
    assert row["buf"] == row["buf8"] and row["buf"].startswith("POLYGON((")
    assert row["ch"] == row["ch1"] == "LINESTRING(0 0,3 0,4 1,4 4)"
    assert row["sub"] == row["sub128"] and len(row["sub"]) == 1


def test_setsrid_roundtrip_sql(spark):
    from datafusion_geo_spark.functions import register_all
    register_all(spark)
    rows = spark.sql("""
        SELECT ST_SRID(ST_SetSRID(ST_GeomFromText('POINT(1 2)'), 4326))
                 AS stamped,
               ST_AsEWKT(ST_SetSRID(ST_GeomFromText('POINT(1 2)'), 3857))
                 AS ewkt,
               ST_SRID(ST_SetSRID(
                   ST_GeomFromText('POINT(1 2)', 4269), 0)) AS cleared,
               ST_SRID(ST_SetSRID(
                   ST_GeomFromText('POINT(1 2)', 4269), CAST(NULL AS INT)))
                 AS nulled,
               ST_SetSRID(CAST(NULL AS BINARY), 4326) AS null_geom
    """).collect()[0]
    assert rows["stamped"] == 4326
    assert rows["ewkt"] == "SRID=3857;POINT(1 2)"
    assert rows["cleared"] is None
    assert rows["nulled"] is None
    assert rows["null_geom"] is None


def test_float_fast_paths_null_and_empty_rows(spark, sql):
    """A NULL row and a POINT EMPTY row read as SQL NULL through the
    float fast paths of ST_X, Box2D and ST_Distance (NaN crosses Arrow
    as NULL), exactly as through the per-row object path, which a
    LINESTRING row in the same batch forces."""
    cols = """ST_X(g) x, Box2D(g) b,
              ST_Distance(g, ST_Point(0.0, 0.0)) d_pair,
              ST_Distance(g, ST_GeomFromText('LINESTRING(0 0,10 0)')) d_const"""

    def run(extra):
        rows = [(1, "POINT(3 4)"), (2, None), (3, "POINT EMPTY"),
                (4, "POINT(-1 2)")] + extra
        (spark.createDataFrame(rows, "id long, wkt string").coalesce(1)
         .createOrReplaceTempView("float_fast_t"))
        got = sql(f"""SELECT id, {cols} FROM (
                        SELECT id, ST_GeomFromText(wkt) g FROM float_fast_t)
                      WHERE id < 5 ORDER BY id""")
        return [tuple(r) for r in got]

    fast = run([])
    assert fast == run([(5, "LINESTRING(0 0,1 1)")])
    assert [r[1:] for r in fast] == [
        (3.0, (3.0, 4.0, 3.0, 4.0), 5.0, 4.0),
        (None, (None, None, None, None), None, None),
        (None, (None, None, None, None), None, None),
        (-1.0, (-1.0, 2.0, -1.0, 2.0), math.sqrt(5.0), math.sqrt(5.0))]
