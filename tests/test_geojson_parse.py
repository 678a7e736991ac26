"""ST_GeomFromGeoJSON: parser unit tests, serializer-inverse property,
and the Spark column/SQL surface."""

import pytest
from hypothesis import given, settings

from datafusion_geo_spark.geo.geojson import from_geojson
from datafusion_geo_spark.geo.wkt import from_wkt, to_wkt


def test_basic_types():
    cases = [
        ('{"type":"Point","coordinates":[1,2]}', "POINT(1 2)"),
        ('{"type":"Point","coordinates":[]}', "POINT EMPTY"),
        ('{"type":"LineString","coordinates":[[0,0],[3,4]]}',
         "LINESTRING(0 0,3 4)"),
        ('{"type":"Polygon","coordinates":[[[0,0],[4,0],[4,4],[0,4],[0,0]]]}',
         "POLYGON((0 0,4 0,4 4,0 4,0 0))"),
        ('{"type":"MultiPoint","coordinates":[[1,1],[2,2]]}',
         "MULTIPOINT(1 1,2 2)"),
        ('{"type":"GeometryCollection","geometries":['
         '{"type":"Point","coordinates":[5,6]}]}',
         "GEOMETRYCOLLECTION(POINT(5 6))"),
        ('{"type":"GeometryCollection","geometries":[]}',
         "GEOMETRYCOLLECTION EMPTY"),
    ]
    for js, wkt in cases:
        assert to_wkt(from_geojson(js)) == to_wkt(from_wkt(wkt)), js


def test_elevation_dropped_and_ring_closed():
    g = from_geojson('{"type":"LineString","coordinates":[[0,0,7],[1,1,8]]}')
    assert to_wkt(g) == "LINESTRING(0 0,1 1)"
    g = from_geojson(
        '{"type":"Polygon","coordinates":[[[0,0],[4,0],[4,4]]]}')
    assert to_wkt(g) == "POLYGON((0 0,4 0,4 4,0 0))"  # auto-closed


def test_crs_srid():
    g = from_geojson(
        '{"type":"Point","coordinates":[1,2],"crs":{"type":"name",'
        '"properties":{"name":"EPSG:4326"}}}')
    assert g.srid == 4326
    g = from_geojson(
        '{"type":"Point","coordinates":[1,2],"crs":{"type":"name",'
        '"properties":{"name":"urn:ogc:def:crs:EPSG::3857"}}}')
    assert g.srid == 3857


@pytest.mark.parametrize("bad,msg", [
    ('{"type":"Feature","geometry":null}', "not a geometry"),
    ('{"type":"FeatureCollection","features":[]}', "not a geometry"),
    ('{"type":"Pointy","coordinates":[1,2]}', "unknown"),
    ('{"type":"Point"}', "coordinates"),
    ('{"type":"Point","coordinates":[1]}', "position"),
    ('{"type":"Point","coordinates":[true,false]}', "position"),
    ('{"type":"GeometryCollection"}', "geometries"),
    ('not json', "invalid GeoJSON"),
    ('{"type":"Point","coordinates":[1,2],"crs":{"type":"name",'
     '"properties":{"name":"weird"}}}', "unsupported GeoJSON crs"),
])
def test_rejects(bad, msg):
    with pytest.raises(ValueError, match=msg):
        from_geojson(bad)


def test_inverse_of_serializer_property():
    from tests.test_property_dialect_asof import any_geom
    from datafusion_geo_spark.geo.geojson import to_geojson

    @given(any_geom)
    @settings(max_examples=200, deadline=None)
    def roundtrip(g):
        assert to_wkt(from_geojson(to_geojson(g))) == to_wkt(g)

    roundtrip()


def test_spark_column_and_sql(spark):
    import pyspark.sql.functions as F
    from datafusion_geo_spark import register_all
    from datafusion_geo_spark.functions import (st_asgeojson, st_astext,
                                                st_geomfromgeojson, st_srid)
    register_all(spark)
    df = spark.createDataFrame(
        [(1, '{"type":"Point","coordinates":[10,20]}'),
         (2, '{"type":"LineString","coordinates":[[0,0],[5,5]]}'),
         (3, None)],
        "id long, js string")
    out = {r["id"]: r for r in df.select(
        "id",
        st_astext(st_geomfromgeojson(F.col("js"))).alias("wkt"),
        st_asgeojson(st_geomfromgeojson(F.col("js"))).alias("js2"),
    ).collect()}
    assert out[1]["wkt"] == "POINT(10 20)"
    assert out[2]["wkt"] == "LINESTRING(0 0,5 5)"
    assert out[1]["js2"] == '{"type":"Point","coordinates":[10,20]}'
    assert out[3]["wkt"] is None

    row = spark.sql(
        "SELECT ST_AsText(ST_GeomFromGeoJSON("
        "'{\"type\":\"Point\",\"coordinates\":[3,4]}')) AS w").collect()[0]
    assert row["w"] == "POINT(3 4)"

    srid = df.where("id = 1").select(st_srid(st_geomfromgeojson(F.concat(
        F.lit('{"type":"Point","coordinates":[1,2],"crs":{"type":"name",'
              '"properties":{"name":"EPSG:'),
        F.lit("4326"), F.lit('"}}}')))).alias("s")).collect()[0]
    assert srid["s"] == 4326


def test_fast_paths_match_full_parser():
    """Uniform Point / LineString batches take the vectorized path; the
    result must be byte-identical to the per-row json.loads path."""
    import pandas as pd
    from datafusion_geo_spark.functions.kernels import geom_from_geojson
    from datafusion_geo_spark.geo.vector import parse_text
    from datafusion_geo_spark.geo.geojson import from_geojson
    from datafusion_geo_spark.geo.wkb import to_wkb

    pts = pd.Series(
        ['{"type":"Point","coordinates":[%d,%d]}' % (i, -i)
         for i in range(200)] + [None])
    fast = parse_text(pts.tolist(), "geojson")
    assert fast is not None  # the fast path must actually engage
    assert list(geom_from_geojson(pts)) == \
        [None if v is None else to_wkb(from_geojson(v)) for v in pts]

    lines = pd.Series(
        ['{"type":"LineString","coordinates":[[%d,0],[%d,5],[9,9]]}'
         % (i, i + 1) for i in range(200)] + [None])
    fast = parse_text(lines.tolist(), "geojson")
    assert fast is not None
    assert list(geom_from_geojson(lines)) == \
        [None if v is None else to_wkb(from_geojson(v)) for v in lines]

    # elevation breaks the float count -> falls back, still correct
    elev = pd.Series(['{"type":"Point","coordinates":[1,2,3]}'])
    assert parse_text(elev.tolist(), "geojson") is None
    assert list(geom_from_geojson(elev)) == [to_wkb(from_geojson(elev[0]))]


def test_fast_path_rejects_mixed_arity_and_3d_batches():
    """Per-row arity validation: compensating wrong-length rows and 3-D
    LineStrings with even vertex counts must NOT take the fast path
    (review finding: batch-total float counts let them slip through)."""
    import pandas as pd
    from datafusion_geo_spark.functions.kernels import geom_from_geojson
    from datafusion_geo_spark.geo.vector import parse_text

    # 3 floats + 1 float = 4 = 2 rows x 2: totals match, rows are wrong
    mixed = pd.Series(['{"type":"Point","coordinates":[1,2,3]}',
                       '{"type":"Point","coordinates":[4]}'])
    assert parse_text(mixed.tolist(), "geojson") is None
    out = geom_from_geojson(pd.Series([mixed[0]]))  # z dropped, correct
    from datafusion_geo_spark.geo.wkb import from_wkb
    from datafusion_geo_spark.geo.wkt import to_wkt
    assert to_wkt(from_wkb(out[0])) == "POINT(1 2)"
    import pytest as _pt
    with _pt.raises(ValueError, match="position"):
        geom_from_geojson(pd.Series([mixed[1]]))

    # 2 points x 3D = 5 commas after separator-collapse = 2*3-1: the
    # old comma-total check parsed this as 3 2-D points
    threed = pd.Series(
        ['{"type":"LineString","coordinates":[[0,0,7],[1,1,8]]}'] * 3)
    assert parse_text(threed.tolist(), "geojson") is None
    got = geom_from_geojson(threed)
    assert all(to_wkt(from_wkb(b)) == "LINESTRING(0 0,1 1)" for b in got)


def test_parser_never_crashes_on_junk():
    """Arbitrary text must yield ValueError or a valid Geometry — never
    an unhandled TypeError/KeyError/IndexError from malformed JSON
    shapes (dicts where lists belong, null coordinates, etc.)."""
    import json as _json

    from hypothesis import given, settings, strategies as st

    from datafusion_geo_spark.geo.geom import Geometry

    scalars = st.one_of(st.none(), st.booleans(), st.integers(-5, 5),
                        st.floats(allow_nan=False, allow_infinity=False,
                                  width=32),
                        st.text(max_size=6))
    # keys MUST include the real GeoJSON member names — st.text alone
    # never generates 'properties' (10 chars > the old max_size=8), so
    # nested-member crash paths were structurally unreachable (this gap
    # let a crs.properties AttributeError escape the first fuzz run)
    keys = st.one_of(st.sampled_from(["type", "coordinates", "geometries",
                                      "crs", "properties", "name",
                                      "features", "geometry"]),
                     st.text(max_size=8))
    nested = st.recursive(
        scalars,
        lambda c: st.one_of(st.lists(c, max_size=4),
                            st.dictionaries(keys, c, max_size=4)),
        max_leaves=12)
    gj_ish = st.fixed_dictionaries({
        "type": st.sampled_from(["Point", "LineString", "Polygon",
                                 "MultiPoint", "MultiLineString",
                                 "MultiPolygon", "GeometryCollection",
                                 "Feature", "bogus"]),
    }, optional={"coordinates": nested, "geometries": nested,
                 "crs": nested})

    @given(st.one_of(st.text(max_size=20),
                     gj_ish.map(lambda d: _json.dumps(d))))
    @settings(max_examples=400, deadline=None)
    def never_crashes(s):
        try:
            g = from_geojson(s)
        except ValueError:
            return
        assert isinstance(g, Geometry)

    never_crashes()


def test_wkt_fast_paths_reject_mixed_arity_batches():
    """The WKT point/line fast paths had the same compensation hazard
    as the GeoJSON ones: rows of the wrong coordinate arity summing to
    the right batch total misparsed silently. Per-row space counts now
    force those batches onto the strict parser."""
    import pandas as pd
    from datafusion_geo_spark.functions.kernels import geom_from_text
    from datafusion_geo_spark.geo.wkb import from_wkb
    from datafusion_geo_spark.geo.wkt import to_wkt

    # 3 floats + 1 float = 4 = 2 rows x 2 — totals match, rows wrong
    out = geom_from_text(pd.Series(["POINT(1 2 3)"]))
    assert to_wkt(from_wkb(out[0])) == "POINT(1 2)"  # strict: Z dropped
    with pytest.raises(ValueError):
        geom_from_text(pd.Series(["POINT(1 2 3)", "POINT(4)"]))

    # linestrings: one 3-D row + one 1-coord row, same comma count
    good = geom_from_text(pd.Series(["LINESTRING(0 0,1 1)"] * 2))
    assert to_wkt(from_wkb(good[0])) == "LINESTRING(0 0,1 1)"
    mixed = pd.Series(["LINESTRING(0 0 7,1 1 8)", "LINESTRING(0,1)"])
    with pytest.raises(ValueError):
        geom_from_text(mixed)


def test_crs_properties_non_dict_raises_valueerror_not_attributeerror():
    """Review finding: a truthy non-dict crs.properties crashed with
    AttributeError; it must raise the parser's documented ValueError
    (same contract as an unparseable crs name)."""
    for js in ('{"type":"Point","coordinates":[1,2],"crs":{"properties":[1]}}',
               '{"type":"Point","coordinates":[1,2],"crs":{"properties":"x"}}'):
        with pytest.raises(ValueError, match="unsupported GeoJSON crs"):
            from_geojson(js)
