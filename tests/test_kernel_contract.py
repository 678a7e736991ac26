"""The per-row contract every SQL-registered kernel keeps, checked on
pandas batches with no Spark session (each UDF's ``.func`` is the plain
Python function Spark would run on an Arrow batch).

(a) A NULL in any one argument nulls that row and leaves the other rows
    unchanged. NULL is None, and also NaN for a numeric argument (pandas
    delivers a null double as NaN). The documented exceptions are listed
    in ``NOT_NULLING`` and pinned to their own behaviour.
(b) Memo parity: a batch of duplicated rows (ids taken modulo a small
    pool, like the fixtures' ``k % 1000``), numbers given partly as
    ``decimal.Decimal`` (how SQL DECIMAL literals arrive), returns the
    same values as evaluating each row alone — one kernel per argument
    shape.
"""

import math
from decimal import Decimal

import pandas as pd
import pytest

from datafusion_geo_spark.functions import _SQL_UDFS
from datafusion_geo_spark.geo.wkb import to_wkb
from datafusion_geo_spark.geo.wkt import from_wkt


def _g(wkt, srid=None):
    g = from_wkt(wkt)
    return to_wkb(g if srid is None else g.with_srid(srid))


PT = _g("POINT(1 2)")
PT2 = _g("POINT(4 6)")
PT3 = _g("POINT(7 1)")
LN = _g("LINESTRING(0 0,10 0,10 10)")
LN2 = _g("LINESTRING(0 5,20 5)")
SQ = _g("POLYGON((0 0,10 0,10 10,0 10,0 0))")
SQ2 = _g("POLYGON((5 5,15 5,15 15,5 15,5 5))")
BIG = _g("POLYGON((-50 -50,50 -50,50 50,-50 50,-50 -50))")
HOLE = _g("POLYGON((0 0,12 0,12 12,0 12,0 0),(4 4,4 8,8 8,8 4,4 4))")
MPT = _g("MULTIPOINT((0 0),(3 1),(1 4),(5 5))")
MLS = _g("MULTILINESTRING((0 0,5 5),(5 5,10 0))")
CROSS = _g("MULTILINESTRING((0 0,10 10),(0 10,10 0))")
RING = _g("LINESTRING(0 0,10 0,10 10,0 0)")
BOWTIE = _g("POLYGON((0 0,10 10,10 0,0 10,0 0))")
GC = _g("GEOMETRYCOLLECTION(POINT(1 1),POLYGON((0 0,1 0,1 1,0 0)))")
LL1 = _g("POINT(-71.06 42.28)")
LL2 = _g("POINT(-73.98 40.75)")
LL_SQ = _g("POLYGON((0 0,1 0,1 1,0 1,0 0))")

#: SQL name -> one argument row per arity checked
ARGS = {
    "ST_GeomFromText": [("POINT(1 2)",), ("LINESTRING(0 0,1 1)", 4326)],
    "ST_GeomFromTextSRID": [("POINT(1 2)", 4326)],
    "ST_GeomFromWKB": [(PT,), (SQ, 4326)],
    "ST_GeomFromWKBSRID": [(SQ, 4326)],
    "ST_GeomFromWKBDialect": [(PT, "wkb")],
    "ST_GeomFromGeoJSON": [('{"type":"Point","coordinates":[1,2]}',)],
    "ST_AsText": [(SQ,)],
    "ST_AsEWKT": [(_g("POINT(1 2)", 4326),)],
    "ST_AsGeoJSON": [(SQ,)],
    "ST_GeometryType": [(SQ,)],
    "Box2D": [(LN,)],
    "ST_MakeEnvelope": [(0.0, 0.0, 1.0, 1.0), (0.0, 0.0, 1.0, 1.0, 4326)],
    "ST_MakeEnvelopeSRID": [(0.0, 0.0, 1.0, 1.0, 4326)],
    "ST_Intersects": [(SQ, LN2)],
    "ST_Disjoint": [(SQ, LN2)],
    "ST_Covers": [(SQ, PT)],
    "ST_CoveredBy": [(PT, SQ)],
    "ST_Equals": [(SQ, SQ2)],
    "ST_Translate": [(SQ, 1.0, 2.0)],
    "ST_Buffer": [(PT, 1.0, 2)],
    "ST_Boundary": [(SQ,)],
    "ST_Split": [(LN, LN2)],
    "ST_SRID": [(_g("POINT(1 2)", 4326),)],
    "ST_SetSRID": [(PT, 4326)],
    "ST_AsMVTGeom": [(SQ, 0.0, 0.0, 4096.0, 4096.0)],
    "ST_Point": [(1.5, 2.5)],
    "ST_NPoints": [(LN,)],
    "ST_Area": [(SQ,)],
    "ST_Box2DFromArray": [([1.0, 2.0, 3.0, 4.0],)],
    "ST_Length": [(LN,)],
    "ST_Perimeter": [(SQ,)],
    "ST_Centroid": [(SQ,)],
    "ST_Envelope": [(LN,)],
    "ST_ConvexHull": [(MPT,)],
    "ST_Simplify": [(LN, 0.5)],
    "ST_LineInterpolatePoint": [(LN, 0.5)],
    "ST_LineLocatePoint": [(LN, PT)],
    "ST_GeoHash": [(LL1,), (LL1, 5)],
    "ST_Azimuth": [(PT, PT2)],
    "ST_ClosestPoint": [(LN, PT)],
    "ST_Distance": [(SQ, LN2)],
    "ST_DWithin": [(SQ, LN2, 1.0)],
    "ST_Contains": [(SQ, PT)],
    "ST_Within": [(PT, SQ)],
    "ST_Touches": [(SQ, LN2)],
    "ST_Overlaps": [(SQ, SQ2)],
    "ST_Crosses": [(LN2, SQ)],
    "ST_Relate": [(SQ, SQ2)],
    "ST_RelateMatch": [("212101212", "T********")],
    "ST_DistanceSphere": [(LL1, LL2)],
    "ST_DistanceSpheroid": [(LL1, LL2)],
    "ST_AreaSphere": [(LL_SQ,)],
    "ST_LengthSphere": [(_g("LINESTRING(0 0,1 1)"),)],
    "ST_PerimeterSphere": [(LL_SQ,)],
    "ST_MaxDistance": [(SQ, PT)],
    "ST_LongestLine": [(SQ, PT)],
    "ST_BuildArea": [(RING,)],
    "ST_GeometricMedian": [(MPT,)],
    "ST_AzimuthSphere": [(LL1, LL2)],
    "ST_ProjectSphere": [(LL1, 1000.0, 0.5)],
    "ST_ProjectSpheroid": [(LL1, 1000.0, 0.5)],
    "ST_IsEmpty": [(SQ,)],
    "ST_Dimension": [(SQ,)],
    "ST_ExteriorRing": [(SQ,)],
    "ST_InteriorRingN": [(HOLE, 1)],
    "ST_NumInteriorRings": [(HOLE,)],
    "ST_BoundingDiagonal": [(SQ,)],
    "ST_TileEnvelope": [(2, 1, 1)],
    "ST_Normalize": [(SQ,)],
    "ST_OffsetCurve": [(LN, 1.0), (LN, 1.0, 4)],
    "ST_SharedPaths": [(LN, LN2)],
    "ST_ClipByBox2D": [(SQ, 2.0, 2.0, 8.0, 8.0)],
    "ST_MaxInscribedCenter": [(SQ,)],
    "ST_MaxInscribedRadius": [(SQ,)],
    "ST_Snap": [(SQ, SQ2, 1.0)],
    "ST_DelaunayTriangles": [(MPT,), (MPT, 1)],
    "ST_VoronoiPolygons": [(MPT,), (MPT, BIG)],
    "ST_ConcaveHull": [(MPT, 0.5)],
    "ST_GeneratePoints": [(SQ, 3), (SQ, 3, 7)],
    "ST_IsClosed": [(LN,)],
    "ST_IsRing": [(RING,)],
    "ST_IsSimple": [(LN,)],
    "ST_IsValid": [(BOWTIE,)],
    "ST_IsValidReason": [(BOWTIE,)],
    "ST_PointOnSurface": [(SQ,)],
    "ST_HausdorffDistance": [(LN, LN2)],
    "ST_FrechetDistance": [(LN, LN2)],
    "ST_Affine": [(SQ, 1.0, 0.0, 0.0, 1.0, 2.0, 3.0)],
    "ST_Expand": [(SQ, 1.0), (SQ, 1.0, 2.0)],
    "ST_Angle": [(PT, PT2, PT3), (PT, PT2, PT3, PT)],
    "ST_RemoveRepeatedPoints": [(LN,), (LN, 0.5)],
    "ST_SnapToGrid": [(LN, 1.0)],
    "ST_AddPoint": [(LN, PT), (LN, PT, 1)],
    "ST_SetPoint": [(LN, 0, PT)],
    "ST_RemovePoint": [(LN, 1)],
    "ST_Multi": [(PT,)],
    "ST_CollectionExtract": [(GC, 3)],
    "ST_CollectionHomogenize": [(GC,)],
    "ST_Dump": [(MPT,)],
    "ST_DumpPoints": [(SQ,)],
    "ST_Intersection": [(SQ, SQ2)],
    "ST_Union": [(SQ, SQ2)],
    "ST_Difference": [(SQ, SQ2)],
    "ST_UnionFromArray": [([SQ, SQ2],)],
    "ST_SymDifference": [(SQ, SQ2)],
    "ST_Reverse": [(LN,)],
    "ST_FlipCoordinates": [(LN,)],
    "ST_Rotate": [(SQ, 0.5), (SQ, 0.5, 1.0, 1.0)],
    "ST_Scale": [(SQ, 2.0, 3.0)],
    "ST_Segmentize": [(LN, 3.0)],
    "ST_ChaikinSmoothing": [(LN, 2)],
    "ST_SimplifyVW": [(LN, 1.0)],
    "ST_LineSubstring": [(LN, 0.2, 0.8)],
    "ST_ReducePrecision": [(LN, 0.5)],
    "ST_LineMerge": [(MLS,)],
    "ST_Subdivide": [(SQ, 8)],
    "ST_Polygonize": [(RING,)],
    "ST_MinimumBoundingRadius": [(MPT,)],
    "ST_MinBoundCenter": [(MPT,)],
    "ST_OrientedEnvelope": [(MPT,)],
    "ST_Node": [(CROSS,)],
    "ST_MakeValid": [(BOWTIE,)],
    "ST_ShortestLine": [(SQ, _g("POINT(20 20)"))],
    "ST_Project": [(PT, 10.0, 0.5)],
    # source SRID from the EWKB header, then from from_srid
    "ST_Transform": [(_g("POINT(-71.06 42.28)", 4326), 3857),
                     (LL1, 32619, 4326)],
    "ST_X": [(PT,)],
    "ST_Y": [(PT,)],
    "ST_NumGeometries": [(MPT,)],
    "ST_GeometryN": [(MPT, 2)],
    "ST_PointN": [(LN, 2)],
    "ST_StartPoint": [(LN,)],
    "ST_EndPoint": [(LN,)],
}

#: (SQL name, argument index) whose NULL does not null the row, and why
NOT_NULLING = {
    ("ST_SetSRID", 1): "a NULL SRID clears the EWKB header",
    ("ST_VoronoiPolygons", 1): "a NULL extend_to means no extension",
}
#: grouped aggregate, not a per-row kernel: it skips NULL geometries
AGGREGATES = {"ST_Extent"}

CASES = [(name, args) for name, rows in ARGS.items() for args in rows]


def _column(values):
    return pd.Series(values, dtype=object)


def _run(name, rows):
    """Evaluate the SQL kernel on a batch given as a list of arg rows;
    a list of per-row outputs (tuples for struct results)."""
    cols = [_column(list(c)) for c in zip(*rows)]
    out = _SQL_UDFS[name].func(*cols)
    if isinstance(out, pd.DataFrame):
        return [tuple(None if pd.isna(v) else v for v in r)
                for r in out.itertuples(index=False)]
    return [None if not isinstance(v, (list, tuple)) and pd.isna(v) else v
            for v in out.tolist()]


def _is_null(v):
    return v is None or (isinstance(v, tuple) and all(x is None for x in v))


def _nulls_for(v):
    if isinstance(v, (int, float, Decimal)) and not isinstance(v, bool):
        return [None, float("nan")]
    return [None]


def test_every_sql_kernel_is_covered():
    assert set(ARGS) | AGGREGATES == set(_SQL_UDFS)


@pytest.mark.parametrize("name,args", CASES,
                         ids=[f"{n}/{len(a)}" for n, a in CASES])
def test_null_in_any_argument_nulls_only_that_row(name, args):
    base = _run(name, [args] * 3)
    assert not any(_is_null(v) for v in base), base
    for i, v in enumerate(args):
        if (name, i) in NOT_NULLING:
            continue
        for null in _nulls_for(v):
            row = list(args)
            row[i] = null
            got = _run(name, [args, tuple(row), args])
            assert _is_null(got[1]), (i, null, got[1])
            assert got[0] == base[0] and got[2] == base[2], (i, null)


def test_set_srid_null_srid_clears_the_header():
    for null in (None, float("nan")):
        got = _run("ST_SetSRID", [(PT, 4326), (PT, null), (PT, 4326)])
        assert got[1] == _run("ST_SetSRID", [(PT, 0)])[0] == PT


def test_voronoi_null_extend_to_means_no_extension():
    got = _run("ST_VoronoiPolygons", [(MPT, BIG), (MPT, None), (MPT, BIG)])
    assert got[1] == _run("ST_VoronoiPolygons", [(MPT,)])[0]
    assert got[0] != got[1]


def test_extent_skips_null_geometries():
    f = _SQL_UDFS["ST_Extent"].func
    assert f(_column([LN, None, SQ])) == f(_column([LN, SQ])) \
        == [0.0, 0.0, 10.0, 10.0]


# -- (b) memo parity ----------------------------------------------------

GEOMS = [PT, LN, SQ, SQ2, MPT, HOLE, LN2, None]
NUMS = [Decimal("0.5"), 0.5, Decimal("1.25"), 2, None, float("nan")]

#: argument shape -> (SQL name, one column generator per argument)
SHAPES = {
    "geom": ("ST_Centroid", [lambda k: GEOMS[k % 8]]),
    "geom x num": ("ST_Simplify", [lambda k: GEOMS[k % 8],
                                   lambda k: NUMS[k % 6]]),
    "geom x num x num": ("ST_Scale", [lambda k: GEOMS[k % 8],
                                      lambda k: NUMS[k % 6],
                                      lambda k: NUMS[k % 5]]),
    "geom x geom": ("ST_Contains", [lambda k: GEOMS[k % 8],
                                    lambda k: GEOMS[k % 7]]),
    "geom x geom x num": ("ST_Snap", [lambda k: GEOMS[k % 8],
                                      lambda k: GEOMS[k % 7],
                                      lambda k: NUMS[k % 6]]),
}


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return a == b


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_duplicated_rows_match_rows_evaluated_alone(shape):
    name, gens = SHAPES[shape]
    rows = [tuple(gen(k) for gen in gens) for k in range(120)]
    batch = _run(name, rows)
    alone = [_run(name, [r])[0] for r in rows]
    assert sum(v is not None for v in batch) > 20
    assert all(_same(a, b) for a, b in zip(batch, alone)), shape
