"""Property tests: the DE-9IM matrix must agree with the independently
implemented boolean predicate family on random small-integer
geometries (integer grids keep every intersection exactly
representable, so the two code paths cannot diverge by float noise)."""

from hypothesis import example, given, settings, strategies as st

from datafusion_geo_spark.geo import relate as relmod
from datafusion_geo_spark.geo.algos import covers, equals, intersects
from datafusion_geo_spark.geo.de9im import relate, relate_match
from datafusion_geo_spark.geo.geom import Geometry

ic = st.integers(min_value=0, max_value=8)


@st.composite
def grid_points(draw):
    return Geometry("Point", (float(draw(ic)), float(draw(ic))))


def _grid_path(draw, start=None):
    n = draw(st.integers(2, 4))
    cs = [start] if start else []
    while len(cs) < n:
        c = (float(draw(ic)), float(draw(ic)))
        if not cs or c != cs[-1]:
            cs.append(c)
    return tuple(cs)


@st.composite
def grid_lines(draw):
    return Geometry("LineString", _grid_path(draw))


@st.composite
def grid_multilines(draw):
    """Two members, the second starting where the first ends: under
    the mod-2 boundary rule that shared endpoint is interior."""
    a = _grid_path(draw)
    return Geometry("MultiLineString", (a, _grid_path(draw, a[-1])))


@st.composite
def grid_boxes(draw):
    x1 = draw(st.integers(0, 6))
    y1 = draw(st.integers(0, 6))
    w = draw(st.integers(1, 4))
    h = draw(st.integers(1, 4))
    x2, y2 = x1 + w, y1 + h
    ring = ((float(x1), float(y1)), (float(x2), float(y1)),
            (float(x2), float(y2)), (float(x1), float(y2)),
            (float(x1), float(y1)))
    return Geometry("Polygon", (ring,))


geoms = st.one_of(grid_points(), grid_lines(), grid_multilines(),
                  grid_boxes())


@settings(max_examples=150, deadline=None)
@given(geoms, geoms)
@example(Geometry("MultiLineString", (((0.0, 0.0), (1.0, 0.0)),
                                      ((1.0, 0.0), (2.0, 0.0)))),
         Geometry("Point", (1.0, 0.0)))
@example(Geometry("LineString", ((0.0, 0.0), (0.0, 1.0))),
         Geometry("LineString", ((0.0, 1.0), (0.0, 0.0), (0.0, 1.0))))
def test_matrix_consistent_with_predicates(a, b):
    m = relate(a, b)
    assert m is not None
    assert relate_match(m, "FF*FF****") == (not intersects(a, b)), m
    assert relate_match(m, "******FF*") == bool(covers(a, b)), m
    assert relate_match(m, "T*F**FFF*") == equals(a, b), m
    assert relate_match(m, "T*****FF*") == relmod.contains(a, b), m
    # within is the transpose of contains
    mt = relate(b, a)
    assert relate_match(mt, "T*****FF*") == relmod.within(a, b), (m, mt)


@settings(max_examples=150, deadline=None)
@given(geoms, geoms)
def test_matrix_transpose_identity(a, b):
    m, mt = relate(a, b), relate(b, a)
    want = "".join(m[3 * c + r] for r in range(3) for c in range(3))
    assert mt == want


@settings(max_examples=100, deadline=None)
@given(geoms)
def test_self_relate(a):
    m = relate(a, a)
    # every geometry equals itself: II=dim, IE=BE=EI=EB=F
    assert relate_match(m, "T*F**FFF*") is True, m
