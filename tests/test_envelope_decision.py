"""The envelope step inside the predicate kernels (``kernels._by_envelope``)
against the per-row object path (pure pandas, no Spark session).

Rows whose envelopes are apart, or inside a rectangle side, by more than
``algos.BOX_MARGIN`` are answered from the envelopes; every other row
runs through ``kernels._rows``. Each kernel must equal ``_rows`` over its
own function on every row, in both argument orders, against a literal
box, a literal that is not a rectangle and a rectangle column. The rows
are drawn around the window's edges: on them, within a few margins of
them and inside the object path's own tolerances, plus zero-length
lines, zero-area and bow-tie rings, EMPTY and NULL rows, multi-ring and
multi-part values, two SRIDs and big-endian values. ``box2d_rows`` reads
the same envelopes and must equal ``Geometry.bounds`` row by row.
"""

import struct

import numpy as np
import pandas as pd
import pytest
from hypothesis import example, given, settings, strategies as st

from datafusion_geo_spark.functions import kernels
from datafusion_geo_spark.geo import algos, relate, vector
from datafusion_geo_spark.geo.geom import Geometry
from datafusion_geo_spark.geo.wkb import to_wkb
from datafusion_geo_spark.geo.wkt import from_wkt

pytestmark = pytest.mark.filterwarnings("error")

#: kernel -> the object-path function its rows must agree with
KERNELS = {
    "intersects": (kernels.intersects, algos.intersects),
    "covers": (kernels.covers, algos.covers),
    "covered_by": (kernels.covered_by, algos.covered_by),
    "equals": (kernels.equals, algos.equals),
    "disjoint": (kernels.disjoint, lambda a, b: not algos.intersects(a, b)),
    "st_contains": (kernels.st_contains, relate.contains),
    "st_within": (kernels.st_within, relate.within),
    "st_touches": (kernels.st_touches, relate.touches),
    "st_overlaps": (kernels.st_overlaps, relate.overlaps),
    "st_crosses": (kernels.st_crosses, relate.crosses),
}

#: windows (xmin, ymin, xmax, ymax): unit-scale, fractional and far
#: from the origin, where the margin grows with the coordinates
WINDOWS = [(0.0, 0.0, 10.0, 10.0), (-3.5, -7.25, 2.75, 0.5),
           (1e6, 2e6, 1e6 + 40.0, 2e6 + 25.0)]

#: offsets from a window edge, in margins: inside the object path's
#: tolerances (1e-5), just past them, and within a few margins
STEPS = [0.0, 1e-5, -1e-5, 1e-3, -1e-3, 0.5, -0.5, 1.0, -1.0, 1.5, -1.5,
         2.0, -2.0, 3.0, -3.0]


def _margin(w):
    return algos.BOX_MARGIN * (1.0 + max(map(abs, w)))


def _box(x0, y0, x1, y1):
    return Geometry("Polygon", [[(x0, y0), (x1, y0), (x1, y1), (x0, y1),
                                 (x0, y0)]])


def _coord(lo, hi, m):
    near = st.tuples(st.sampled_from([lo, hi]), st.sampled_from(STEPS)) \
        .map(lambda t: t[0] + t[1] * m)
    span = hi - lo
    return st.one_of(near, st.floats(lo - span, hi + span))


@st.composite
def _geoms(draw, w):
    m = _margin(w)
    x0, y0, x1, y1 = w

    def pt():
        return (draw(_coord(x0, x1, m)), draw(_coord(y0, y1, m)))

    kind = draw(st.sampled_from([
        "point", "line", "zero_line", "ring", "zero_ring", "quad", "rect",
        "empty", "null", "multi_ring", "multi_part"]))
    if kind == "point":
        return Geometry("Point", pt())
    if kind == "line":
        return Geometry("LineString", [pt() for _ in range(draw(
            st.integers(2, 4)))])
    if kind == "zero_line":
        return Geometry("LineString", [pt()] * draw(st.integers(2, 3)))
    if kind == "ring":
        a, b, c = pt(), pt(), pt()
        return Geometry("Polygon", [[a, b, c, a]])
    if kind == "zero_ring":   # collinear: no area
        a, b = pt(), pt()
        mid = ((a[0] + b[0]) / 2, (a[1] + b[1]) / 2)
        return Geometry("Polygon", [[a, mid, b, a]])
    if kind == "quad":        # a simple quad or a bow-tie
        a, b, c, d = pt(), pt(), pt(), pt()
        return Geometry("Polygon", [[a, b, c, d, a]])
    if kind == "rect":
        (ax, ay), (bx, by) = pt(), pt()
        return _box(min(ax, bx), min(ay, by), max(ax, bx), max(ay, by))
    if kind == "empty":
        return draw(st.sampled_from([Geometry("Point", None),
                                     Geometry("LineString", []),
                                     Geometry("Polygon", [])]))
    if kind == "null":
        return None
    if kind == "multi_ring":  # a shell with a hole
        (ax, ay), (bx, by) = pt(), pt()
        ax, bx = min(ax, bx), max(ax, bx) + 4.0
        ay, by = min(ay, by), max(ay, by) + 4.0
        shell = _box(ax, ay, bx, by).parts[0]
        hole = _box(ax + 1.0, ay + 1.0, bx - 1.0, by - 1.0).parts[0][::-1]
        return Geometry("Polygon", [shell, hole])
    return draw(st.sampled_from([
        Geometry("MultiPoint", [pt(), pt()]),
        Geometry("MultiLineString", [[pt(), pt()], [pt(), pt()]]),
        Geometry("MultiPolygon", [[[a, b, c, a]] for a, b, c in
                                  [(pt(), pt(), pt())]])]))


def _big_endian(g: Geometry) -> bytes:
    """Big-endian WKB of a point, line or one-ring polygon."""
    code = {"Point": 1, "LineString": 2, "Polygon": 3}[g.typ]
    if g.typ == "Point":
        return struct.pack(">BIdd", 0, code, *g.parts)
    cs = g.parts if g.typ == "LineString" else g.parts[0]
    flat = [v for c in cs for v in c]
    count = struct.pack(">I", len(cs))
    if g.typ == "Polygon":
        count = struct.pack(">I", 1) + count
    return struct.pack(">BI", 0, code) + count \
        + struct.pack(f">{len(flat)}d", *flat)


def _encode(row):
    g, srid, big = row
    if g is None:
        return None
    simple = (g.parts is not None if g.typ == "Point"
              else bool(g.parts) if g.typ == "LineString"
              else g.typ == "Polygon" and len(g.parts) == 1)
    return _big_endian(g) if big and simple else to_wkb(g.with_srid(srid))


@st.composite
def cases(draw):
    """(window index, rows, rectangle-column steps): each row a
    geometry (or None) with its SRID and big-endian flag."""
    wi = draw(st.integers(0, len(WINDOWS) - 1))
    rows = draw(st.lists(st.tuples(
        _geoms(WINDOWS[wi]), st.sampled_from([None, None, None, 4326, 2263]),
        st.booleans()), min_size=1, max_size=8))
    steps = draw(st.lists(st.tuples(*[st.sampled_from(STEPS)] * 4)
                          | st.none(), min_size=len(rows),
                          max_size=len(rows)))
    return wi, rows, steps


def _series(values):
    return pd.Series(values, dtype=object)


def _agree(kernel, fn, a, b):
    got = kernel(a, b).tolist()
    want = kernels._rows(lambda x, y: bool(fn(x, y)), "gg", a, b).tolist()
    assert got == want, [(i, g, w) for i, (g, w) in
                         enumerate(zip(got, want)) if g != w]


def _P(wkt):
    return (from_wkt(wkt), None, False)


@settings(max_examples=120, deadline=None)
@given(cases())
# a point on the window's edge, within the object path's tolerance of
# it, and just past the margin on either side
@example((0, [_P("POINT(10 5)"), _P("POINT(10.000000000000005 5)"),
              _P("POINT(9.999999999999995 5)"),
              _P("POINT(10.00000002 5)"), _P("POINT(9.99999998 5)")],
          [None] * 5))
# degenerate rows strictly inside: a zero-length line, collinear and
# symmetric bow-tie rings (no area), an open ring; next to a solid one
@example((0, [_P("LINESTRING(2 2,2 2)"), _P("POLYGON((2 2,3 3,4 4,2 2))"),
              _P("POLYGON((2 2,4 4,4 2,2 4,2 2))"),
              _P("POLYGON((2 2,4 2,4 4,2 4))"),
              _P("POLYGON((2 2,4 2,4 4,2 2))"), _P("LINESTRING(2 2,3 3)")],
          [None] * 6))
# POINT EMPTY, NULL, a multi-part and a multi-ring row, two SRIDs and a
# big-endian point among fixed-layout rows
@example((0, [(Geometry("Point", None), None, False), (None, None, False),
              _P("MULTIPOINT((1 1),(20 20))"),
              _P("POLYGON((1 1,9 1,9 9,1 9,1 1),(2 2,2 8,8 8,8 2,2 2))"),
              (from_wkt("POINT(5 5)"), 4326, False),
              (from_wkt("POINT(6 6)"), 2263, False),
              (from_wkt("POINT(7 7)"), None, True), _P("POINT(50 50)")],
          [None] * 8))
# a rectangle column whose rows sit two margins off the window
@example((2, [_P("POINT(1000020 2000010)"), _P("POINT(1000040 2000010)")],
          [(2.0, 2.0, -2.0, -2.0), (-2.0, -2.0, 2.0, 2.0)]))
def test_envelope_decision_matches_rows(case):
    wi, rows, steps = case
    w = WINDOWS[wi]
    m = _margin(w)
    g = _series([_encode(r) for r in rows])
    n = len(g)
    x0, y0, x1, y1 = w
    box = _series([to_wkb(_box(*w))] * n)
    tri = _series([to_wkb(Geometry("Polygon", [[(x0, y0), (x1, y0),
                                                 (x0, y1), (x0, y0)]]))] * n)
    rects = _series([None if s is None else to_wkb(_box(
        x0 + s[0] * m, y0 + s[1] * m, x1 + s[2] * m, y1 + s[3] * m))
        for s in steps])
    assert vector.rectangles(vector.decode(box.tolist())) is not None
    assert vector.rectangles(vector.decode(tri.tolist())) is None
    for name, (kernel, fn) in KERNELS.items():
        for other in (box, tri, rects):
            _agree(kernel, fn, g, other)
            _agree(kernel, fn, other, g)


def test_only_rows_near_the_edge_reach_the_object_path(monkeypatch):
    """Rows clearly inside or clearly apart are settled from their
    envelopes; the row on the edge, the degenerate row and the NULL row
    are the only ones ``_rows`` sees."""
    rows = ["POINT(5 5)", "POINT(50 50)", "LINESTRING(1 1,2 3,4 1)",
            "POLYGON((2 2,4 2,3 5,2 2))", "POINT(10 5)",
            "LINESTRING(3 3,3 3)", None]
    g = _series([None if r is None else to_wkb(from_wkt(r)) for r in rows])
    box = _series([to_wkb(_box(0.0, 0.0, 10.0, 10.0))] * len(g))
    seen = []
    real = kernels._rows

    def spy(fn, kinds, *cols):
        seen.append(len(cols[0]))
        return real(fn, kinds, *cols)
    monkeypatch.setattr(kernels, "_rows", spy)
    got = kernels.st_contains(box, g).tolist()
    assert got == [True, False, True, True, False, False, None]
    assert seen == [3]


def _bounds(s):
    return [None if b is None else tuple(np.float64(v).tobytes() for v in b)
            for b in kernels._rows(Geometry.bounds, "g", s).tolist()]


def _cells(df):
    return [None if np.isnan(r).all() else
            tuple(np.float64(v).tobytes() for v in r)
            for r in df.to_numpy(float)]


@settings(max_examples=80, deadline=None)
@given(cases())
@example((0, [(Geometry("Point", None), None, False), (None, None, False),
              _P("MULTILINESTRING((1 1,2 2),(5 5,-3 7))"),
              _P("POLYGON((1 1,9 1,9 9,1 9,1 1),(2 2,2 8,8 8,8 2,2 2))"),
              (from_wkt("LINESTRING(5 5,6 7)"), 4326, False),
              (from_wkt("LINESTRING(6 6,1 2)"), 2263, False),
              (from_wkt("POINT(7 7)"), None, True), _P("POINT(50 50)")],
          [None] * 8))
def test_box2d_matches_geometry_bounds(case):
    _, rows, _ = case
    s = _series([_encode(r) for r in rows])
    assert _cells(kernels.box2d_rows(s)) == _bounds(s)


@pytest.mark.parametrize("values", [[None] * 3, [to_wkb(Geometry(
    "Point", None))] * 2 + [None]])
def test_no_known_envelope_is_null_without_a_warning(values):
    s = _series(values)
    env, solid, _ = vector.envelopes(values)
    assert np.isnan(env).all() and not solid.any()
    assert kernels.box2d_rows(s).isna().all().all()
    assert kernels.extent_array(s) is None
    box = _series([to_wkb(_box(0.0, 0.0, 1.0, 1.0))] * len(s))
    assert kernels.intersects(s, box).tolist() == kernels._rows(
        algos.intersects, "gg", s, box).tolist()
