"""EWKB parity of the numpy fast paths (pure pandas, no Spark session).

Every kernel with a fixed-layout fast path gets one-SRID EWKB batches of
points, uniform linestrings and rectangles. Its output must equal the
per-row object path (``kernels._rows`` over the same function) bit for
bit, and the batch must take the fast path: the decoder returns a batch
carrying the SRID, and the kernel runs no per-row geometry decode.
Batches with two SRIDs, big-endian rows or Z rows fall back to the
object path and match it too.
"""

import random
import struct

import numpy as np
import pandas as pd
import pytest

from datafusion_geo_spark.functions import kernels
from datafusion_geo_spark.geo import algos, de9im, overlay, proj, relate, vector
from datafusion_geo_spark.geo.geojson import to_geojson
from datafusion_geo_spark.geo.geom import Geometry
from datafusion_geo_spark.geo.wkb import from_wkb, to_wkb
from datafusion_geo_spark.geo.wkt import from_wkt, to_ewkt, to_wkt

SRID = 2263
RNG = random.Random(7)
N = 24


def _xy(lo=-40.0, hi=40.0):
    return (RNG.uniform(lo, hi), RNG.uniform(lo, hi))


def _rect(x0, y0, x1, y1, turn):
    """An axis-aligned rectangle ring starting at corner ``turn``, in
    alternating orientation."""
    ring = [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
    ring = ring[turn % 4:] + ring[:turn % 4]
    if turn % 2:
        ring = ring[::-1]
    return Geometry("Polygon", [ring + ring[:1]])


def _geoms(kind):
    if kind == "points":
        gs = [Geometry("Point", _xy()) for _ in range(N)]
        gs[5] = Geometry("Point", None)        # POINT EMPTY rides along
        gs[9] = Geometry("Point", gs[2].parts)  # a repeated value
        return gs
    if kind == "lines":
        return [Geometry("LineString", [_xy() for _ in range(3)])
                for _ in range(N)]
    if kind == "rects":
        out = []
        for i in range(N):
            x, y = RNG.choice([0.0, 5.0, 10.0]), RNG.choice([0.0, 5.0, 10.0])
            w, h = RNG.choice([5.0, 10.0, 20.0]), RNG.choice([5.0, 10.0])
            out.append(_rect(x, y, x + w, y + h, i))
        return out
    if kind == "triangles":  # one ring, four vertices: not rectangles
        return [Geometry("Polygon", [[p, _xy(), _xy(), p]])
                for p in (_xy() for _ in range(N))]
    raise ValueError(kind)


def _batch(geoms, srid=SRID):
    """(E)WKB of ``geoms`` stamped ``srid`` (an int, or one per row),
    with NULL rows at 3 and at the end."""
    srids = srid if isinstance(srid, list) else [srid] * len(geoms)
    vals = [to_wkb(g.with_srid(r)) for g, r in zip(geoms, srids)]
    vals[3] = None
    return pd.Series(vals + [None], dtype=object)


def _big_endian(g: Geometry, srid=None) -> bytes:
    x, y = g.parts
    if srid is None:
        return struct.pack(">BIdd", 0, 1, x, y)
    return struct.pack(">BIidd", 0, 1 | 0x20000000, srid, x, y)


def _z(g: Geometry) -> bytes:
    x, y = g.parts
    return struct.pack("<BIddd", 1, 1001, x, y, 3.0)


def _fallbacks():
    """Point batches the decoder must refuse: two SRIDs, big-endian
    plain and EWKB, ISO Z."""
    pts = [Geometry("Point", _xy()) for _ in range(N)]
    two = _batch(pts, [SRID if i % 2 else 4326 for i in range(N)])
    be = pd.Series([_big_endian(g) for g in pts] + [None], dtype=object)
    be_srid = pd.Series([_big_endian(g, SRID) for g in pts], dtype=object)
    z = pd.Series([None] + [_z(g) for g in pts], dtype=object)
    return [two, be, be_srid, z]


def _bits(v):
    """A cell compared bit for bit: floats by their IEEE bytes, NULL
    (None or NaN) as None."""
    if v is None or (isinstance(v, float) and v != v):
        return None
    if isinstance(v, (float, np.floating)):
        return np.float64(v).tobytes()
    if isinstance(v, np.bool_):
        return bool(v)
    return v


def _cells(out):
    if isinstance(out, pd.DataFrame):
        return [tuple(map(_bits, r)) for r in out.itertuples(index=False)]
    return [_bits(v) for v in out.tolist()]


@pytest.fixture
def row_calls(monkeypatch):
    """The argument kinds of every ``kernels._rows`` call the test makes."""
    calls = []
    real = kernels._rows

    def spy(fn, kinds, *cols):
        calls.append(kinds)
        return real(fn, kinds, *cols)
    monkeypatch.setattr(kernels, "_rows", spy)
    return calls


def _check(kernel, reference, args, row_calls, fast):
    """``kernel(*args)`` equals ``reference(*args)`` cell for cell; a
    fast batch decodes with its SRID and runs no per-row decode."""
    if fast:
        for a in args:
            if a.dtype == object and a.notna().any():
                b = vector.decode(a.tolist())
                assert b is not None and b.srid is not None, a.tolist()[:2]
    del row_calls[:]
    got = _cells(kernel(*args))
    if fast:
        assert not [k for k in row_calls if "g" in k], row_calls
    want = _cells(reference(*args))
    assert got == want


def _obj(fn, kinds):
    return lambda *cols: kernels._rows(fn, kinds, *cols)


def _box2d_obj(s):
    return pd.DataFrame(
        [(None,) * 4 if b is None else b
         for b in kernels._rows(Geometry.bounds, "g", s)],
        columns=["xmin", "ymin", "xmax", "ymax"])


def _translate_obj(s, dx, dy):
    return kernels._rows(lambda g, x, y: to_wkb(g.translate(x, y)), "gnn",
                         s, dx, dy)


UNARY = {
    "as_text": (kernels.as_text, _obj(to_wkt, "g")),
    "as_ewkt": (kernels.as_ewkt, _obj(to_ewkt, "g")),
    "as_geojson": (kernels.as_geojson, _obj(to_geojson, "g")),
    "box2d_rows": (kernels.box2d_rows, _box2d_obj),
    "st_x": (kernels.st_x, _obj(kernels._pt_x, "g")),
    "st_y": (kernels.st_y, _obj(kernels._pt_y, "g")),
}

#: the layouts each unary kernel has a fast path for
UNARY_FAST = {"as_text": ("points", "lines"), "as_ewkt": ("points", "lines"),
              "as_geojson": ("points",), "st_x": ("points",),
              "st_y": ("points",),
              "box2d_rows": ("points", "lines", "rects", "triangles")}


@pytest.mark.parametrize("name", sorted(UNARY))
@pytest.mark.parametrize("kind", ["points", "lines", "rects", "triangles"])
def test_unary_ewkb_parity(name, kind, row_calls):
    kernel, ref = UNARY[name]
    _check(kernel, ref, [_batch(_geoms(kind))], row_calls,
           fast=kind in UNARY_FAST[name])


@pytest.mark.parametrize("name", sorted(UNARY))
def test_unary_fallback_parity(name, row_calls):
    kernel, ref = UNARY[name]
    for s in _fallbacks():
        assert vector.decode(s.tolist()) is None
        _check(kernel, ref, [s], row_calls, fast=False)


@pytest.mark.parametrize("kind", ["points", "lines", "rects", "triangles"])
def test_translate_ewkb_parity(kind, row_calls):
    s = _batch(_geoms(kind))
    dx = pd.Series([RNG.uniform(-3, 3) for _ in range(len(s))])
    dy = pd.Series([RNG.uniform(-3, 3) for _ in range(len(s))])
    dy[7] = None  # a NULL offset nulls its row
    _check(kernels.translate, _translate_obj, [s, dx, dy], row_calls,
           fast=True)
    got = kernels.translate(s, dx, dy)
    assert {from_wkb(v).srid for v in got if v is not None} == {SRID}
    for f in _fallbacks():
        n = len(f)
        _check(kernels.translate, _translate_obj,
               [f, pd.Series([1.5] * n), pd.Series([-2.0] * n)], row_calls,
               fast=False)


@pytest.mark.parametrize("kind", ["points", "lines", "rects", "triangles"])
@pytest.mark.parametrize("to", [4326, 3857, 32618])
def test_transform_ewkb_parity(kind, to, row_calls):
    """2263 -> ``to`` from the header: each row equals
    proj.transform_geometry on it alone, SRID ``to`` stamped."""
    s = _batch(_geoms(kind))
    got = kernels.transform_srid(s, pd.Series([to] * len(s))).tolist()
    for v, g in zip(s, got):
        want = None if v is None else \
            to_wkb(proj.transform_geometry(from_wkb(v), to))
        assert g == want
    assert from_wkb(got[0]).srid == to


def _pair_ref(fn):
    return _obj(lambda x, y: bool(fn(x, y)), "gg")


PREDICATES = {
    "intersects": (kernels.intersects, algos.intersects),
    "covers": (kernels.covers, algos.covers),
    "covered_by": (kernels.covered_by, algos.covered_by),
    "equals": (kernels.equals, algos.equals),
}


def _const(g, n):
    """A broadcast literal carrying the batches' SRID."""
    return pd.Series([to_wkb(g.with_srid(SRID))] * n, dtype=object)


@pytest.mark.parametrize("name", sorted(PREDICATES))
def test_predicates_points_ewkb_parity(name, row_calls):
    kernel, fn = PREDICATES[name]
    pts = _batch(_geoms("points"))
    n = len(pts)
    box = _const(from_wkt("POLYGON((-10 -10,20 -10,20 20,-10 20,-10 -10))"), n)
    point = _const(Geometry("Point", from_wkb(pts[2]).parts), n)
    every = set(PREDICATES)
    # (left, right, the predicates with a fast path for that pair)
    cases = [(pts, box, {"intersects", "covered_by"}),
             (box, pts, {"intersects", "covers"}),
             (pts, point, every), (point, pts, every),
             (pts, _batch(_geoms("points")), {"intersects", "equals"})]
    for a, b, fast in cases:
        _check(kernel, _pair_ref(fn), [a, b], row_calls, fast=name in fast)


def test_intersects_lines_ewkb_parity(row_calls):
    lines = _batch(_geoms("lines"))
    n = len(lines)
    on_line = Geometry("Point", from_wkb(lines[0]).parts[1])
    ref = _pair_ref(algos.intersects)
    for a, b in ((lines, _const(on_line, n)), (_const(on_line, n), lines),
                 (lines, _batch(_geoms("lines")))):
        _check(kernels.intersects, ref, [a, b], row_calls, fast=True)
        _check(kernels.disjoint, lambda x, y: kernels._rows(
            lambda p, q: not algos.intersects(p, q), "gg", x, y),
            [a, b], row_calls, fast=True)


RECT_KERNELS = {
    "intersects": (kernels.intersects, _pair_ref(algos.intersects)),
    "covers": (kernels.covers, _pair_ref(algos.covers)),
    "equals": (kernels.equals, _pair_ref(algos.equals)),
    "st_contains": (kernels.st_contains, _obj(relate.contains, "gg")),
    "st_within": (kernels.st_within, _obj(relate.within, "gg")),
    "st_touches": (kernels.st_touches, _obj(relate.touches, "gg")),
    "st_overlaps": (kernels.st_overlaps, _obj(relate.overlaps, "gg")),
    "st_relate": (kernels.st_relate, _obj(de9im.relate, "gg")),
    "geom_intersection": (kernels.geom_intersection,
                          _obj(kernels._wkb(overlay.intersection), "gg")),
}


@pytest.mark.parametrize("name", sorted(RECT_KERNELS))
def test_rectangles_ewkb_parity(name, row_calls):
    kernel, ref = RECT_KERNELS[name]
    a, b = _batch(_geoms("rects")), _batch(_geoms("rects"))
    _check(kernel, ref, [a, b], row_calls, fast=True)


def test_intersection_keeps_left_srid(row_calls):
    """Rectangles of two SRIDs: each side decodes with its own, the
    result (POLYGON EMPTY included) carries the left one."""
    a = _batch(_geoms("rects"))
    b = _batch([_rect(30.0, 30.0, 40.0, 40.0, 0)] * 2 + _geoms("rects")[2:],
               4326)
    assert vector.decode(b.tolist()).srid == 4326
    _check(kernels.geom_intersection,
           _obj(kernels._wkb(overlay.intersection), "gg"), [a, b], row_calls,
           fast=True)
    got = kernels.geom_intersection(a, b)
    assert from_wkb(got[0]).is_empty() and from_wkb(got[0]).srid == SRID


def test_distance_ewkb_parity(row_calls):
    a, b = _batch(_geoms("points")), _batch(_geoms("points"))
    poly = from_wkt("POLYGON((0 0,30 0,30 30,0 30,0 0))")
    d = pd.Series([25.0] * len(a))
    for x, y in ((a, b), (a, _const(poly, len(a))), (_const(poly, len(a)), b)):
        _check(kernels.distance, _obj(algos.distance, "gg"), [x, y],
               row_calls, fast=True)
        del row_calls[:]
        got = _cells(kernels.dwithin(x, y, d))
        assert not [k for k in row_calls if "g" in k], row_calls
        assert got == _cells(_obj(algos.dwithin, "ggn")(x, y, d))


def test_binary_fallback_parity(row_calls):
    box = from_wkt("POLYGON((-10 -10,20 -10,20 20,-10 20,-10 -10))")
    for s in _fallbacks():
        n = len(s)
        for name, (kernel, fn) in PREDICATES.items():
            _check(kernel, _pair_ref(fn), [s, _const(box, n)], row_calls,
                   fast=False)
        _check(kernels.distance, _obj(algos.distance, "gg"), [s, s],
               row_calls, fast=False)


def test_rectangles_fallback_parity(row_calls):
    """Rectangles of two SRIDs in one batch fall back and match."""
    rects = _geoms("rects")
    a = _batch(rects, [SRID if i % 3 else 4326 for i in range(N)])
    b = _batch(_geoms("rects"))
    assert vector.decode(a.tolist()) is None
    for name, (kernel, ref) in sorted(RECT_KERNELS.items()):
        _check(kernel, ref, [a, b], row_calls, fast=False)
