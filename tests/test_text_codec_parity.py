"""Parity of the fixed-layout text codec (pure pandas, no Spark).

``vector.parse_text``/``format_text`` carry every WKT and GeoJSON kernel
on fixed-layout batches: points, k-vertex lines and one-ring polygons.
Each kernel's output must equal the per-row object path
(``kernels._rows`` over ``from_wkt``/``from_geojson`` or
``to_wkt``/``to_ewkt``/``to_geojson``) cell for cell, and the batch must
take the fast path: no per-row call at all. The second half pins the
cases whose answer used to depend on the batch a value landed in.
"""

import random
import struct

import numpy as np
import pandas as pd
import pytest

from datafusion_geo_spark.functions import kernels
from datafusion_geo_spark.geo import vector
from datafusion_geo_spark.geo.geojson import from_geojson, to_geojson
from datafusion_geo_spark.geo.geom import Geometry
from datafusion_geo_spark.geo.wkb import to_wkb
from datafusion_geo_spark.geo.wkt import from_wkt, to_ewkt, to_wkt

RNG = random.Random(9)
N = 30
PARSE = {"wkt": (from_wkt, to_wkt), "geojson": (from_geojson, to_geojson)}


def _num():
    return RNG.choice([float(RNG.randint(-500, 500)),
                       round(RNG.uniform(-180, 180), RNG.randint(1, 9)),
                       RNG.uniform(-1e6, 1e6), -0.0, 1e-7, 2.5e17])


def _geoms(kind):
    """Seeded geometries of one fixed layout."""
    xy = lambda: (_num(), _num())  # noqa: E731
    if kind == "points":
        gs = [Geometry("Point", xy()) for _ in range(N)]
        gs[4] = Geometry("Point", None)        # POINT EMPTY rides along
        return gs
    if kind.startswith("lines"):
        k = int(kind[-1])
        return [Geometry("LineString", [xy() for _ in range(k)])
                for _ in range(N)]
    if kind == "polygons":
        return [Geometry("Polygon", [[p, xy(), xy(), xy(), p]])
                for p in (xy() for _ in range(N))]
    if kind == "empty_lines":
        return [Geometry("LineString", []) for _ in range(N)]
    raise ValueError(kind)


KINDS = ["points", "lines2", "lines3", "lines4", "polygons", "empty_lines"]


def _with_nulls(vals):
    vals = list(vals)
    vals[2] = None
    return pd.Series(vals + [None], dtype=object)


def _cells(out):
    """Floats compared by their bytes, NULL (None or NaN) as None."""
    def bits(v):
        if v is None or (isinstance(v, float) and v != v):
            return None
        if isinstance(v, (float, np.floating)):
            return np.float64(v).tobytes()
        return v
    if isinstance(out, pd.DataFrame):
        return [tuple(map(bits, r)) for r in out.itertuples(index=False)]
    return [bits(v) for v in out.tolist()]


@pytest.fixture
def row_calls(monkeypatch):
    """Every ``kernels._rows`` call the test makes."""
    calls = []
    real = kernels._rows

    def spy(fn, kinds, *cols):
        calls.append(kinds)
        return real(fn, kinds, *cols)
    monkeypatch.setattr(kernels, "_rows", spy)
    return calls


def _fast(kernel, args, row_calls):
    del row_calls[:]
    out = kernel(*args)
    assert row_calls == [], row_calls
    return _cells(out)


def _obj(fn, kinds, *args):
    return _cells(kernels._rows(fn, kinds, *args))


@pytest.mark.parametrize("kind", KINDS)
@pytest.mark.parametrize("fmt", ["wkt", "geojson"])
def test_parse_parity(fmt, kind, row_calls):
    parse, write = PARSE[fmt]
    s = _with_nulls(write(g) for g in _geoms(kind))
    assert vector.parse_text(s.tolist(), fmt) is not None
    if fmt == "wkt":
        got = _fast(kernels.geom_from_text, [s], row_calls)
        assert got == _obj(lambda t: to_wkb(parse(t)), "v", s)
        for r in (4326, 0, -7):   # one SRID value: stamped by the encoder
            srid = pd.Series([r] * len(s))
            got = _fast(kernels.geom_from_text, [s, srid], row_calls)
            assert got == _obj(lambda t, r: to_wkb(parse(t).with_srid(int(r))),
                               "vn", s, srid)
        got = _fast(kernels.wkt_roundtrip, [s], row_calls)
        assert got == _obj(lambda t: to_wkt(from_wkt(t)), "v", s)
    else:
        got = _fast(kernels.geom_from_geojson, [s], row_calls)
        assert got == _obj(lambda t: to_wkb(parse(t)), "v", s)


@pytest.mark.parametrize("kind", KINDS)
@pytest.mark.parametrize("srid", [None, 2263])
def test_print_parity(kind, srid, row_calls):
    s = _with_nulls(to_wkb(g.with_srid(srid)) for g in _geoms(kind))
    b = vector.decode(s.tolist())
    assert b is not None and b.srid == srid
    for kernel, fn in ((kernels.as_text, to_wkt), (kernels.as_ewkt, to_ewkt),
                       (kernels.as_geojson, to_geojson)):
        assert _fast(kernel, [s], row_calls) == _obj(fn, "g", s)


def test_print_parity_zero_vertex_ring(row_calls):
    """A one-ring polygon of no vertices is a fixed layout (k = 0)."""
    s = _with_nulls([to_wkb(Geometry("Polygon", [[]]))] * 5)
    for kernel, fn in ((kernels.as_text, to_wkt),
                       (kernels.as_geojson, to_geojson)):
        assert _fast(kernel, [s], row_calls) == _obj(fn, "g", s)


@pytest.mark.parametrize("kind", ["points", "lines3", "polygons"])
@pytest.mark.parametrize("fmt", ["wkt", "geojson"])
def test_format_then_parse_is_identity(fmt, kind):
    b = vector.decode(_with_nulls(to_wkb(g) for g in _geoms(kind)).tolist())
    back = vector.parse_text(vector.format_text(b, fmt), fmt)
    assert back.typ == b.typ and back.k == b.k
    assert (back.valid == b.valid).all()
    np.testing.assert_array_equal(back.coords, b.coords)


@pytest.mark.parametrize("kind", KINDS)
@pytest.mark.parametrize("srid", [2263, 0, -1, None, float("nan")])
def test_set_srid_parity(kind, srid, row_calls):
    """ST_SetSRID with one SRID value re-encodes a fixed-layout batch:
    an SRID >= 1 is stamped, NULL or <= 0 clears it, byte for byte as
    the per-row path does."""
    s = _with_nulls(to_wkb(g.with_srid(4326)) for g in _geoms(kind))
    col = pd.Series([srid] * len(s), dtype=object)
    got = _fast(kernels.set_srid, [s, col], row_calls)
    want = _obj(lambda g, r: to_wkb(g.with_srid(int(r) if r >= 1 else None)),
                "gn", s, col.where(col.notna(), 0))
    assert got == want


def test_srid_column_of_two_values_keeps_the_row_path():
    geoms = _geoms("points")
    s = _with_nulls(to_wkb(g) for g in geoms)
    col = pd.Series([2263 + i % 2 for i in range(len(s))])
    got = _cells(kernels.set_srid(s, col))
    assert got == _obj(lambda g, r: to_wkb(g.with_srid(int(r))), "gn", s, col)
    t = _with_nulls(to_wkt(g) for g in geoms)
    got = _cells(kernels.geom_from_text(t, col))
    assert got == _obj(lambda t, r: to_wkb(from_wkt(t).with_srid(int(r))),
                       "vn", t, col)


def test_all_null_batch_is_never_encoded():
    """No row to stamp: an SRID the header cannot hold must not raise,
    as on the per-row path, which never runs."""
    s = pd.Series([None, None], dtype=object)
    big = pd.Series([2 ** 40] * 2)
    assert kernels.set_srid(s, big).tolist() == [None, None]
    assert kernels.geom_from_text(s, big).tolist() == [None, None]


# ----------------------------------- answers that depended on the batch


def _mixed(s):
    """``s`` with one more row of another layout: the object path."""
    return pd.concat([s, pd.Series(["LINESTRING(0 0,1 1)"])],
                     ignore_index=True)


@pytest.mark.parametrize("bad", ["POINT(-inf 2)", "POINT(1 -inf)"])
def test_wkt_infinity_raises_in_every_batch(bad):
    uniform = pd.Series([bad, "POINT(1 2)"])
    for s in (uniform, _mixed(uniform)):
        with pytest.raises(ValueError):
            kernels.geom_from_text(s)
        with pytest.raises(ValueError):
            kernels.wkt_roundtrip(s)


def test_overflowing_number_takes_the_row_path():
    """A number past the float range reads as infinity: the text pair
    keeps to finite values, and the per-row parser rejects it too."""
    for fmt, t in (("wkt", "POINT(1e400 2)"),
                   ("geojson", '{"type":"Point","coordinates":[1e400,2]}')):
        assert vector.parse_text([t, t], fmt) is None
    s = pd.Series(["POINT(1e400 2)"])
    with pytest.raises(ValueError):
        kernels.geom_from_text(s)


@pytest.mark.parametrize("fmt,text", [
    ("wkt", "POINT(inf 2)"), ("wkt", "POINT(-inf 2)"),
    ("wkt", "POINT(nan 5)"), ("wkt", "POINT(1e400 2)"),
    ("wkt", "LINESTRING(0 0,1 2 nan)"),
    ("geojson", '{"type":"Point","coordinates":[1e400,2]}'),
    ("geojson", '{"type":"Point","coordinates":[NaN,2]}'),
    ("geojson", '{"type":"LineString","coordinates":[[0,0],[1,-Infinity]]}'),
])
def test_object_parsers_reject_non_finite_numbers(fmt, text):
    """No non-finite coordinate gets in: to_wkt/to_geojson could not
    print it back, so both object parsers raise, as the text pair
    declines it."""
    with pytest.raises(ValueError):
        PARSE[fmt][0](text)


@pytest.mark.parametrize("bad", ["LINESTRING(1 2 3,4)",
                                 "LINESTRING(1 2,3 4e)"])
def test_wkt_misplaced_numbers_raise_in_every_batch(bad):
    uniform = pd.Series(["LINESTRING(0 0,5 5)", bad])
    for s in (uniform, pd.concat([uniform, pd.Series(["POINT(1 2)"])],
                                 ignore_index=True)):
        with pytest.raises(ValueError):
            kernels.geom_from_text(s)


@pytest.mark.parametrize("num", ["+1", ".5", "01", "inf", "1e"])
def test_geojson_invalid_json_numbers_raise_in_every_batch(num):
    uniform = pd.Series(['{"type":"Point","coordinates":[%s,2]}' % num,
                         '{"type":"Point","coordinates":[3,4]}'])
    mixed = pd.concat([uniform, pd.Series(
        ['{"type":"LineString","coordinates":[[0,0],[1,1]]}'])],
        ignore_index=True)
    for s in (uniform, mixed):
        with pytest.raises(ValueError):
            kernels.geom_from_geojson(s)


def test_geojson_misplaced_numbers_raise_in_every_batch():
    s = pd.Series(['{"type":"LineString","coordinates":[[0,0],[1,1]]}',
                   '{"type":"LineString","coordinates":[[1,2,3],[4]]}'])
    with pytest.raises(ValueError):
        kernels.geom_from_geojson(s)


def test_geojson_minus_zero_is_json_int_zero():
    """``-0`` is the JSON integer 0, so +0.0 in every batch; ``-0.0``
    stays -0.0."""
    uniform = pd.Series(['{"type":"Point","coordinates":[-0,2]}',
                         '{"type":"Point","coordinates":[-0.0,2]}'])
    mixed = pd.concat([uniform, pd.Series(
        ['{"type":"LineString","coordinates":[[0,0],[1,1]]}'])],
        ignore_index=True)
    want = [to_wkb(Geometry("Point", (0.0, 2.0))),
            to_wkb(Geometry("Point", (-0.0, 2.0)))]
    assert want[0] != want[1]
    for s in (uniform, mixed):
        assert kernels.geom_from_geojson(s).tolist()[:2] == want


def test_geojson_open_ring_is_closed_in_every_batch():
    ring = '{"type":"Polygon","coordinates":[[[0,0],[4,0],[4,4],[0,4]]]}'
    got = kernels.geom_from_geojson(pd.Series([ring, ring]))
    assert got.tolist() == [to_wkb(from_geojson(ring))] * 2


def _half_nan(srid=None):
    """POINT(NaN 5): the WKB reader takes a NaN x as POINT EMPTY."""
    g = to_wkb(Geometry("Point", (1.0, 5.0)).with_srid(srid))
    return g[:-16] + struct.pack("<dd", float("nan"), 5.0)


@pytest.mark.parametrize("srid", [None, 2263])
def test_half_nan_point_is_point_empty(srid, row_calls):
    s = pd.Series([to_wkb(Geometry("Point", (3.0, 4.0)).with_srid(srid)),
                   _half_nan(srid), None], dtype=object)
    one = pd.Series([1.0] * 3)
    assert _fast(kernels.translate, [s, one, one], row_calls) == _obj(
        lambda g, x, y: to_wkb(g.translate(x, y)), "gnn", s, one, one)
    assert _fast(kernels.box2d_rows, [s], row_calls) == _cells(pd.DataFrame(
        [(None,) * 4 if b is None else b
         for b in kernels._rows(Geometry.bounds, "g", s)]))
    assert _fast(kernels.st_y, [s], row_calls) == _obj(kernels._pt_y, "g", s)
    assert _fast(kernels.as_text, [s], row_calls) == _obj(to_wkt, "g", s)
    srid_col = pd.Series([4326] * 3)
    assert _fast(kernels.set_srid, [s, srid_col], row_calls) == _obj(
        lambda g, r: to_wkb(g.with_srid(int(r))), "gn", s, srid_col)
