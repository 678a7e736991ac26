"""Differential parity: every vectorized numpy fast path in the measure
kernels must agree with the object path (algos / proj per-row) on the
same batch. Pure pandas-level (no Spark session) — catches fast-path
drift that oracle queries can mask when a fixture never exercises the
fallback."""

import random

import numpy as np
import pandas as pd
import pytest

from datafusion_geo_spark.functions import kernels
from datafusion_geo_spark.geo import algos, proj
from datafusion_geo_spark.geo.geom import Geometry
from datafusion_geo_spark.geo.wkb import from_wkb, to_wkb
from datafusion_geo_spark.geo.wkt import from_wkt

RNG = random.Random(42)


def _point_series(n, lo=-50.0, hi=50.0, srid=None):
    pts = [(RNG.uniform(lo, hi), RNG.uniform(lo, hi)) for _ in range(n)]
    vals = [to_wkb(Geometry("Point", p, srid)) for p in pts]
    vals[3] = None                     # a null row rides along
    return pd.Series(vals, dtype=object), pts


def test_distance_points_vs_const_polygon_parity():
    s, pts = _point_series(64)
    poly = from_wkt(
        "POLYGON((0 0,30 0,30 30,0 30,0 0),(10 10,20 10,20 20,10 20,10 10))")
    const = pd.Series([to_wkb(poly)] * 64, dtype=object)
    fast = kernels.distance(s, const).tolist()
    for i, v in enumerate(fast):
        if s.iloc[i] is None:
            assert np.isnan(v)   # NaN crosses Arrow as SQL NULL
            continue
        want = algos.distance(from_wkb(bytes(s.iloc[i])), poly)
        assert v == pytest.approx(want, abs=1e-9), (i, pts[i])


def test_distance_point_pairs_parity():
    a, _ = _point_series(40)
    b, _ = _point_series(40)
    fast = kernels.distance(a, b).tolist()
    for i, v in enumerate(fast):
        if a.iloc[i] is None or b.iloc[i] is None:
            assert np.isnan(v)
            continue
        want = algos.distance(from_wkb(bytes(a.iloc[i])),
                              from_wkb(bytes(b.iloc[i])))
        assert v == want


#: ST_Transform targets: web mercator, a UTM north and a UTM south
#: zone, every registered CRS, and the 4269 geographic alias
TRANSFORM_TARGETS = ([3857, 32631, 32733] + sorted(proj.CRS_REGISTRY)
                     + [4269])


def _transform_rows(geoms, srid=None):
    """(E)WKB of ``geoms`` (None stays NULL), stamped ``srid`` when
    given; two NULL rows ride along."""
    vals = [None if g is None else
            to_wkb(g if srid is None else g.with_srid(srid)) for g in geoms]
    return vals[:2] + [None] + vals[2:] + [None]


def _transform_parity(vals, to, frm=None):
    """The kernel on one batch == proj.transform_geometry on each row
    alone, byte for byte (NULL in any argument -> NULL)."""
    n = len(vals)
    to = to if isinstance(to, list) else [to] * n
    frm = frm if isinstance(frm, list) or frm is None else [frm] * n
    got = kernels.transform_srid(
        pd.Series(vals, dtype=object), pd.Series(to),
        None if frm is None else pd.Series(frm)).tolist()
    for i, v in enumerate(vals):
        f = None if frm is None else frm[i]
        if v is None or (frm is not None and f is None):
            assert got[i] is None, i
            continue
        want = to_wkb(proj.transform_geometry(from_wkb(v), to[i], f))
        assert got[i] == want, (i, to[i], f, from_wkb(v))


def test_transform_fast_path_vs_object_parity():
    pts = [(RNG.uniform(-20, 20), RNG.uniform(-60, 70)) for _ in range(8)]
    line = Geometry("LineString", pts[:4])
    hole = from_wkt("POLYGON((0 40,12 40,12 52,0 52,0 40),"
                    "(4 44,4 48,8 48,8 44,4 44))")
    multi = from_wkt("MULTIPOLYGON(((1 50,2 50,2 51,1 50)),"
                     "((-3 45,-2 45,-2 46,-3 45)))")
    empty = Geometry("Point", None)
    mixed = ([Geometry("Point", p) for p in pts[:3]]
             + [Geometry("Point", p, 4326) for p in pts[3:]]
             + [line, hole, multi, empty])
    plain_points = [Geometry("Point", p) for p in pts] + [empty]
    lines = [Geometry("LineString", pts[i:i + 3]) for i in range(5)]
    for to in TRANSFORM_TARGETS:
        # with from_srid: plain and EWKB rows mixed, a NULL from_srid
        vals = _transform_rows(mixed)
        frm = [4326] * len(vals)
        frm[1] = None
        _transform_parity(vals, to, frm)
        # without from_srid: the source SRID comes from each header,
        # 4326 and its 4269 alias in one batch
        _transform_parity(_transform_rows(mixed[:6], 4326)
                          + _transform_rows(mixed[6:], 4269), to)
        # uniform point / line batches (the numpy codec), plain WKB and
        # EWKB with the source SRID in the header
        _transform_parity(_transform_rows(plain_points), to, 4326)
        _transform_parity(_transform_rows(lines), to, 4326)
        _transform_parity(_transform_rows(plain_points, 4326), to)
        _transform_parity(_transform_rows(lines, 4326), to)
    # several SRID pairs in one batch, one group each
    vals = _transform_rows(mixed, 4326)
    _transform_parity(vals, [TRANSFORM_TARGETS[i % len(TRANSFORM_TARGETS)]
                             for i in range(len(vals))])
    # projected -> projected through the 4326 hub, header and from_srid
    stamped = kernels.transform_srid(
        pd.Series(_transform_rows(mixed, 4326), dtype=object),
        pd.Series([2263] * (len(mixed) + 2))).tolist()
    _transform_parity(stamped, 5070)
    _transform_parity([None if v is None else to_wkb(from_wkb(v)
                                                     .with_srid(None))
                       for v in stamped], 32733, 2263)
    # identity pairs keep SRIDs the WKB writer leaves unstamped (0)
    # or writes signed (negative)
    for srid in (0, -5):
        _transform_parity(_transform_rows(plain_points), srid, srid)

    # the errors still raise, whichever path the group takes
    def run(geoms, to, frm=None):
        n = len(geoms)
        return kernels.transform_srid(
            pd.Series([to_wkb(g) for g in geoms], dtype=object),
            pd.Series([to] * n),
            None if frm is None else pd.Series([frm] * n))

    ok = Geometry("Point", (1.0, 2.0))
    pole = Geometry("Point", (1.0, 90.0))
    with pytest.raises(ValueError, match=r"latitude 90.0 out of"):
        run([ok, pole], 3857, 4326)
    with pytest.raises(ValueError, match=r"latitude -90.0 out of"):
        run([Geometry("LineString", [(0.0, 1.0), (0.0, -90.0)])], 3857,
            4326)
    with pytest.raises(ValueError, match="source SRID unknown"):
        run([ok.with_srid(4326), ok], 3857)
    with pytest.raises(ValueError, match="unsupported SRID pair"):
        run([ok], 99999, 4326)
    with pytest.raises(ValueError, match="unsupported SRID pair"):
        run([ok], 4326, 99999)


def test_st_xy_fast_path_parity():
    for srid in (None, 2263):  # plain WKB and EWKB
        s, pts = _point_series(32, srid=srid)
        xs = kernels.st_x(s).tolist()
        ys = kernels.st_y(s).tolist()
        for i in range(32):
            if s.iloc[i] is None:
                assert np.isnan(xs[i]) and np.isnan(ys[i])
            else:
                assert (xs[i], ys[i]) == pts[i]


def test_dwithin_fast_vs_object_consistency():
    """dwithin through the fast path (point pairs) must agree with the
    bbox-rejecting object path (lines) on equivalent inputs."""
    a, pa = _point_series(20)
    b, pb = _point_series(20)
    d = pd.Series([25.0] * 20)
    fast = kernels.dwithin(a, b, d).tolist()
    # same points as 1-vertex "lines" forces the object path
    la = pd.Series([None if v is None else to_wkb(
        Geometry("LineString", [p, p]))
        for v, p in zip(a.tolist(), pa)], dtype=object)
    lb = pd.Series([None if v is None else to_wkb(
        Geometry("LineString", [p, p]))
        for v, p in zip(b.tolist(), pb)], dtype=object)
    obj = kernels.dwithin(la, lb, d).tolist()
    assert fast == obj
