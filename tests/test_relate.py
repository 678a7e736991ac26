"""ST_Contains/Within/Touches/Overlaps/Crosses (geo/relate.py):
golden DE-9IM cases, hypothesis consistency laws, Spark/SQL surface."""

import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from datafusion_geo_spark.geo.algos import covers, intersects
from datafusion_geo_spark.geo.relate import (contains, crosses,
                                             interiors_intersect, overlaps,
                                             touches, within)
from datafusion_geo_spark.geo.wkt import from_wkt as W

A = W("POLYGON((0 0,2 0,2 2,0 2,0 0))")
B = W("POLYGON((1 1,3 1,3 3,1 3,1 1))")
C = W("POLYGON((0.5 0.5,1.5 0.5,1.5 1.5,0.5 1.5,0.5 0.5))")
T = W("POLYGON((2 0,4 0,4 2,2 2,2 0))")


def test_contains_vs_covers_boundary():
    # the canonical covers/contains split: boundary-only membership
    assert covers(A, W("POINT(2 1)")) and not contains(A, W("POINT(2 1)"))
    assert contains(A, W("POINT(1 1)"))
    assert contains(A, C) and within(C, A)
    assert not contains(A, B)
    assert contains(A, A)                      # reflexive (interiors meet)
    assert covers(A, W("LINESTRING(0 0,2 0)"))
    assert not contains(A, W("LINESTRING(0 0,2 0)"))   # rides the boundary
    assert contains(A, W("LINESTRING(0.5 0.5,1.5 1.5)"))
    # a line does not contain its endpoint
    L = W("LINESTRING(0 0,10 0)")
    assert contains(L, W("POINT(5 0)")) and not contains(L, W("POINT(0 0)"))


def test_touches():
    assert touches(A, T)                       # shared edge
    assert not touches(A, B)                   # interior overlap
    assert touches(A, W("POINT(0 0)"))         # corner
    assert not touches(A, W("POINT(1 1)"))
    assert touches(A, W("LINESTRING(0 0,2 0)"))
    assert touches(W("LINESTRING(0 0,10 0)"), W("LINESTRING(10 0,12 5)"))
    assert not touches(W("POINT(1 1)"), W("POINT(1 1)"))  # no boundaries


def test_overlaps_crosses():
    assert overlaps(A, B)
    assert not overlaps(A, C) and not overlaps(A, T)
    assert overlaps(W("LINESTRING(0 0,10 0)"), W("LINESTRING(4 0,12 0)"))
    assert not overlaps(W("LINESTRING(0 0,10 0)"), W("LINESTRING(4 0,6 0)"))
    assert crosses(W("LINESTRING(-1 1,3 1)"), A)
    assert not crosses(W("LINESTRING(0.5 1,1.5 1)"), A)   # within
    assert crosses(W("LINESTRING(0 0,10 0)"), W("LINESTRING(3 -1,5 3)"))
    assert not crosses(W("LINESTRING(0 0,10 0)"), W("LINESTRING(10 0,12 5)"))
    assert crosses(W("MULTIPOINT(1 1,9 9)"), A)
    assert not crosses(W("MULTIPOINT(1 1,1.5 1.5)"), A)   # all inside
    assert not crosses(A, B)                              # area x area


def test_multiline_boundary_is_mod2():
    """Two members sharing an endpoint join there: under the mod-2
    boundary rule (ST_Relate gives 0F1FF0FF2) the shared point is
    interior, so the MultiLineString contains it and does not touch
    it, and a line through it crosses; the unshared ends stay
    boundary."""
    ml = W("MULTILINESTRING((0 0,1 0),(1 0,2 0))")
    assert contains(ml, W("POINT(1 0)")) and not touches(ml, W("POINT(1 0)"))
    assert crosses(W("LINESTRING(1 -1,1 1)"), ml)
    assert touches(ml, W("POINT(0 0)")) and not contains(ml, W("POINT(2 0)"))


boxes = st.tuples(st.integers(-12, 12), st.integers(-12, 12),
                  st.integers(1, 10), st.integers(1, 10))


def _box(x0, y0, w, h):
    return W(f"POLYGON(({x0} {y0},{x0 + w} {y0},{x0 + w} {y0 + h},"
             f"{x0} {y0 + h},{x0} {y0}))")


@settings(max_examples=150, deadline=None)
@given(boxes, boxes)
def test_predicate_laws_boxes(ba, bb):
    """DE-9IM consistency laws on arbitrary box topologies."""
    a, b = _box(*ba), _box(*bb)
    i = intersects(a, b)
    t, o, c = touches(a, b), overlaps(a, b), contains(a, b)
    # touches/overlaps/contains all imply intersects
    assert not (t and not i) and not (o and not i) and not (c and not i)
    # interiors either meet or they don't: touches and overlaps disjoint
    assert not (t and o)
    # contains implies covers; contains excludes touches
    assert not (c and not covers(a, b)) and not (c and t)
    # symmetric predicates
    assert t == touches(b, a) and o == overlaps(b, a)
    assert within(b, a) == c
    # overlaps excludes either-way containment
    assert not (o and (covers(a, b) or covers(b, a)))
    # area x area: exactly one of {disjoint, touches, overlaps,
    # covers-or-covered} holds
    states = [not i, t, o, covers(a, b) or covers(b, a)]
    assert sum(bool(s) for s in states) == 1, (ba, bb, states)


def test_spark_and_sql_surface(spark):
    from datafusion_geo_spark.functions import (register_all, st_contains,
                                                st_crosses, st_geomfromtext,
                                                st_overlaps, st_touches,
                                                st_within)
    df = spark.createDataFrame(
        [(1, "POLYGON((0 0,2 0,2 2,0 2,0 0))", "POINT(2 1)"),
         (2, "POLYGON((0 0,2 0,2 2,0 2,0 0))", "POINT(1 1)"),
         (3, None, "POINT(1 1)")],
        "id int, a string, b string")
    ga, gb = st_geomfromtext(F.col("a")), st_geomfromtext(F.col("b"))
    rows = {r["id"]: r for r in df.select(
        "id", st_contains(ga, gb).alias("c"),
        st_touches(ga, gb).alias("t")).collect()}
    assert rows[1]["c"] is False and rows[1]["t"] is True
    assert rows[2]["c"] is True and rows[2]["t"] is False
    assert rows[3]["c"] is None and rows[3]["t"] is None
    register_all(spark)
    r = spark.sql("""
        SELECT ST_Contains(ST_GeomFromText('POLYGON((0 0,2 0,2 2,0 2,0 0))'),
                           ST_GeomFromText('POINT(1 1)')) AS c,
               ST_Overlaps(ST_GeomFromText('POLYGON((0 0,2 0,2 2,0 2,0 0))'),
                           ST_GeomFromText('POLYGON((1 1,3 1,3 3,1 3,1 1))'))
                 AS o,
               ST_Crosses(ST_GeomFromText('LINESTRING(-1 1,3 1)'),
                          ST_GeomFromText('POLYGON((0 0,2 0,2 2,0 2,0 0))'))
                 AS x,
               ST_Within(ST_GeomFromText('POINT(1 1)'),
                         ST_GeomFromText('POLYGON((0 0,2 0,2 2,0 2,0 0))'))
                 AS w
    """).collect()[0]
    assert r["c"] and r["o"] and r["x"] and r["w"]
