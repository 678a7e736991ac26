"""Property-based tests (hypothesis) for the geometry core and the
vectorized batch codecs — goes beyond the reference's test strategy,
which has no randomized testing (SURVEY.md §5.6).

Invariants checked:
  * WKT → Geometry → WKB → Geometry → WKT is a fixed point
  * vectorized point/line batch codecs agree with the scalar codec
  * vectorized predicates agree with the object-path algorithms
  * predicate axioms: symmetry of intersects/equals, covers ⊃ implies
    intersects, covered_by is the converse of covers
"""

import math

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from datafusion_geo_spark.geo import algos, vector
from datafusion_geo_spark.geo.geom import Geometry
from datafusion_geo_spark.geo.wkb import from_wkb, to_wkb
from datafusion_geo_spark.geo.wkt import from_wkt, to_wkt

# finite doubles that survive repr round-trip exactly
coord = st.floats(min_value=-1e6, max_value=1e6, allow_nan=False,
                  allow_infinity=False)


@st.composite
def points(draw):
    return Geometry("Point", (draw(coord), draw(coord)))


@st.composite
def linestrings(draw, min_pts=2, max_pts=6):
    n = draw(st.integers(min_pts, max_pts))
    cs = tuple((draw(coord), draw(coord)) for _ in range(n))
    return Geometry("LineString", cs)


@st.composite
def boxes(draw):
    x1, x2 = sorted((draw(coord), draw(coord)))
    y1, y2 = sorted((draw(coord), draw(coord)))
    if x1 == x2 or y1 == y2:  # degenerate -> nudge
        x2, y2 = x1 + 1.0, y1 + 1.0
    ring = ((x1, y1), (x1, y2), (x2, y2), (x2, y1), (x1, y1))
    return Geometry("Polygon", (ring,))


any_geom = st.one_of(points(), linestrings(), boxes())


@given(any_geom)
@settings(max_examples=200, deadline=None)
def test_wkb_roundtrip(g):
    assert from_wkb(to_wkb(g)) == g


@given(any_geom)
@settings(max_examples=200, deadline=None)
def test_wkt_roundtrip(g):
    w = to_wkt(g)
    assert to_wkt(from_wkt(w)) == w


@given(st.lists(st.one_of(st.none(), points()), min_size=0, max_size=30))
@settings(max_examples=100, deadline=None)
def test_vector_point_codec_matches_scalar(gs):
    wkbs = [None if g is None else to_wkb(g) for g in gs]
    pb = vector.decode(wkbs)
    assert pb is not None
    for i, g in enumerate(gs):
        if g is None:
            assert not pb.valid[i]
        else:
            assert pb.valid[i]
            assert (pb.x[i], pb.y[i]) == g.parts


@given(st.lists(points(), min_size=1, max_size=20), boxes())
@settings(max_examples=100, deadline=None)
def test_vector_points_in_ring_matches_algos(pts, poly):
    wkbs = [to_wkb(p) for p in pts]
    pb = vector.decode(wkbs)
    got = vector.points_in_ring(pb, poly.parts[0])
    for i, p in enumerate(pts):
        exp = algos.intersects(p, poly)
        assert bool(got[i]) == exp, (to_wkt(p), to_wkt(poly))


@given(any_geom, any_geom)
@settings(max_examples=150, deadline=None)
def test_predicate_axioms(a, b):
    assert algos.intersects(a, b) == algos.intersects(b, a)
    assert algos.equals(a, b) == algos.equals(b, a)
    assert algos.covered_by(a, b) == algos.covers(b, a)
    if algos.covers(a, b):
        assert algos.intersects(a, b)


@given(any_geom)
@settings(max_examples=100, deadline=None)
def test_self_axioms(g):
    assert algos.intersects(g, g)
    assert algos.equals(g, g)
    assert algos.covers(g, g)


@given(st.lists(linestrings(min_pts=3, max_pts=3), min_size=1, max_size=15),
       st.lists(linestrings(min_pts=3, max_pts=3), min_size=1, max_size=15))
@settings(max_examples=100, deadline=None)
def test_vector_lines_intersect_matches_algos(xs, ys):
    n = min(len(xs), len(ys))
    xs, ys = xs[:n], ys[:n]
    la = vector.decode([to_wkb(g) for g in xs])
    lb = vector.decode([to_wkb(g) for g in ys])
    got = vector.lines_intersect_lines(la, lb)
    for i in range(n):
        assert bool(got[i]) == algos.intersects(xs[i], ys[i]), (
            to_wkt(xs[i]), to_wkt(ys[i]))


@given(st.text(max_size=60))
@settings(max_examples=100, deadline=None)
def test_wkt_parser_never_crashes(s):
    """Arbitrary text either parses or raises ValueError — no other
    exception type escapes the parser (the kernel maps ValueError to a
    clean per-row failure)."""
    try:
        g = from_wkt(s)
    except ValueError:
        return
    assert isinstance(g, Geometry)


@given(st.binary(max_size=80))
@settings(max_examples=100, deadline=None)
def test_wkb_decoder_never_crashes(b):
    try:
        g = from_wkb(b)
    except ValueError:
        return
    assert isinstance(g, Geometry)


@given(st.lists(linestrings(min_pts=3, max_pts=3), min_size=1, max_size=20))
@settings(max_examples=100, deadline=None)
def test_vector_line_codec_roundtrip(lines):
    wkbs = [to_wkb(g) for g in lines]
    lb = vector.decode(wkbs)
    assert lb is not None and lb.k == 3
    enc = vector.encode("LineString", lb.coords, valid=lb.valid)
    assert enc == wkbs
    xmin, ymin, xmax, ymax = vector.bounds(lb.coords)
    for i, g in enumerate(lines):
        xs = [c[0] for c in g.parts]
        ys = [c[1] for c in g.parts]
        assert (xmin[i], ymin[i], xmax[i], ymax[i]) == (
            min(xs), min(ys), max(xs), max(ys))


# ---------------------------------------------------------------- measures


@given(points(), points())
@settings(max_examples=150, deadline=None)
def test_distance_axioms(a, b):
    d = algos.distance(a, b)
    assert d == algos.distance(b, a)          # symmetry
    assert d >= 0.0
    if a == b:
        assert d == 0.0
    assert algos.distance(a, a) == 0.0        # identity


@given(linestrings(), points())
@settings(max_examples=100, deadline=None)
def test_distance_zero_iff_intersects_for_vertex(line, p):
    # distance to one of the line's own vertices is 0
    v = Geometry("Point", line.parts[0])
    assert algos.distance(line, v) == 0.0
    d = algos.distance(line, p)
    if algos.intersects(line, p):
        assert d == 0.0
    else:
        # floats: a disjoint point can still measure 0.0 when its TRUE
        # separation sits below cancellation scale (hypothesis found
        # POINT(1000000 -48577) vs a segment ending 1.2e-10 away — the
        # double arithmetic rounds the projection onto the segment to
        # the point itself). When that happens, arbitrate with EXACT
        # rational point-to-segment distance: the float 0.0 is only
        # acceptable if the true separation is ulp-scale relative to
        # the coordinate magnitude.
        assert d >= 0.0
        if d == 0.0:
            from fractions import Fraction as Fr
            px, py = (Fr(c) for c in p.parts)
            best = None
            verts = [tuple(map(Fr, xy)) for xy in line.parts]
            for (ax, ay), (bx, by) in zip(verts, verts[1:]):
                abx, aby = bx - ax, by - ay
                den = abx * abx + aby * aby
                t = Fr(0) if den == 0 else (
                    (px - ax) * abx + (py - ay) * aby) / den
                t = min(max(t, Fr(0)), Fr(1))
                dx, dy = px - (ax + t * abx), py - (ay + t * aby)
                d2 = dx * dx + dy * dy
                best = d2 if best is None else min(best, d2)
            scale = max((abs(c) for xy in line.parts for c in xy),
                        default=1.0)
            scale = max(scale, abs(p.parts[0]), abs(p.parts[1]), 1.0)
            assert best <= (Fr(1, 10**9) * Fr(scale)) ** 2, \
                f"float distance 0.0 but exact separation^2 = {best}"


@given(st.lists(points(), min_size=1, max_size=12))
@settings(max_examples=100, deadline=None)
def test_convex_hull_contains_inputs_and_is_idempotent(pts):
    mp = Geometry("MultiPoint", tuple(p.parts for p in pts))
    hull = algos.convex_hull(mp)
    # every input point lies on/in the hull
    for p in pts:
        assert algos.distance(hull, p) <= 1e-6 * (
            1.0 + abs(p.parts[0]) + abs(p.parts[1]))
    # hull of the hull's vertices is the hull itself (same vertex set)
    hull2 = algos.convex_hull(hull)
    assert set(hull2.vertices()) <= set(hull.vertices()) | set(mp.vertices())


@given(boxes())
@settings(max_examples=100, deadline=None)
def test_centroid_of_box_is_center_and_inside_hull(box):
    c = algos.centroid(box)
    (x1, y1), (x2, y2) = box.parts[0][0], box.parts[0][2]
    assert math.isclose(c.parts[0], (x1 + x2) / 2, rel_tol=1e-9, abs_tol=1e-9)
    assert math.isclose(c.parts[1], (y1 + y2) / 2, rel_tol=1e-9, abs_tol=1e-9)
    assert algos.covers(box, c)


@given(linestrings(min_pts=2, max_pts=8),
       st.floats(min_value=0.0, max_value=10.0, allow_nan=False))
@settings(max_examples=100, deadline=None)
def test_simplify_subset_of_vertices_keeps_endpoints(line, tol):
    out = algos.simplify(line, tol)
    assert out.typ == "LineString"
    assert set(out.parts) <= set(line.parts)
    assert out.parts[0] == line.parts[0]
    assert out.parts[-1] == line.parts[-1]
    # tol=0 keeps everything except nothing is ADDED; length never grows
    assert algos.length(out) <= algos.length(line) + 1e-9


@given(linestrings())
@settings(max_examples=100, deadline=None)
def test_length_translation_invariant(line):
    moved = line.translate(7.25, -3.5)
    assert math.isclose(algos.length(line), algos.length(moved),
                        rel_tol=1e-9, abs_tol=1e-9)


@given(linestrings(min_pts=2, max_pts=8),
       st.floats(min_value=0.0, max_value=20.0, allow_nan=False))
@settings(max_examples=150, deadline=None)
def test_simplify_error_bound(line, tol):
    """Douglas-Peucker guarantee: every dropped vertex stays within tol
    of the simplified line."""
    out = algos.simplify(line, tol)
    for v in line.parts:
        d = algos.distance(out, Geometry("Point", v))
        assert d is not None and d <= tol + 1e-9


@given(st.one_of(points(), linestrings(), boxes()))
@settings(max_examples=150, deadline=None)
def test_envelope_covers_geometry(g):
    env = algos.envelope(g)
    for v in g.vertices():
        assert algos.covers(env, Geometry("Point", v)) or \
            algos.distance(env, Geometry("Point", v)) <= 1e-9 * (
                1.0 + abs(v[0]) + abs(v[1]))


def test_wkb_count_bomb_rejected_fast():
    """A tiny buffer declaring a ~4-billion-element count must be
    rejected by the bounds check BEFORE any count-sized allocation
    (hypothesis found a 13-byte LineString blob that made the decoder
    build a multi-GB struct format string). Every container count is
    covered: coords, polygon rings, multi-part members, collections."""
    import struct
    import time

    from datafusion_geo_spark.geo.wkb import from_wkb
    bombs = [
        struct.pack("<BI", 1, 2) + struct.pack("<I", 0xFFFFFFF0),
        struct.pack("<BI", 1, 3) + struct.pack("<I", 0xFFFFFFF0) + b"\0" * 60,
        struct.pack("<BI", 1, 3) + struct.pack("<II", 1, 0xFFFFFFF0),
        struct.pack("<BI", 1, 4) + struct.pack("<I", 0xFFFFFFF0),
        struct.pack("<BI", 1, 5) + struct.pack("<I", 0xFFFFFFF0),
        struct.pack("<BI", 1, 6) + struct.pack("<I", 0xFFFFFFF0),
        struct.pack("<BI", 1, 7) + struct.pack("<I", 0xFFFFFFF0),
        # big-endian variant of the original finding
        struct.pack(">BI", 0, 2) + struct.pack(">I", 0xFFFFFFF0),
    ]
    for b in bombs:
        t0 = time.time()
        with pytest.raises(ValueError):
            from_wkb(b)
        assert time.time() - t0 < 0.1, b.hex()


def test_nesting_bombs_raise_valueerror():
    """Thousands-deep nested-collection bombs in every recursive
    parser must surface as ValueError (the kernels' clean per-row
    failure), never RecursionError (which would kill the whole task's
    batch)."""
    import json
    import struct

    from datafusion_geo_spark.geo.dialect import from_spatialite
    from datafusion_geo_spark.geo.geojson import from_geojson
    from datafusion_geo_spark.geo.wkb import from_wkb

    depth = 5000
    wkb = b"".join(struct.pack("<BII", 1, 7, 1) for _ in range(depth)) \
        + struct.pack("<BIdd", 1, 1, 1.0, 2.0)
    with pytest.raises(ValueError):
        from_wkb(wkb)

    wkt = "GEOMETRYCOLLECTION(" * depth + "POINT(1 2)" + ")" * depth
    with pytest.raises(ValueError):
        from_wkt(wkt)

    gj = s = '{"type":"GeometryCollection","geometries":[' * depth \
        + '{"type":"Point","coordinates":[1,2]}' + "]}" * depth
    with pytest.raises(ValueError):
        from_geojson(gj)

    sl_body = struct.pack("<II", 7, 1) \
        + (b"\x69" + struct.pack("<II", 7, 1)) * depth \
        + b"\x69" + struct.pack("<I", 1) + struct.pack("<dd", 1.0, 2.0)
    blob = (b"\x00\x01" + struct.pack("<i", 4326)
            + struct.pack("<dddd", 0, 0, 1, 1) + b"\x7c" + sl_body
            + b"\xfe")
    with pytest.raises(ValueError):
        from_spatialite(blob)
