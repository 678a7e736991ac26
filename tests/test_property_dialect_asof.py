"""Property-based tests for the round-3 surface:
  * every WKB dialect codec is a fixed point on random geometries
    (with and without SRIDs);
  * the distributed as-of join agrees with pandas.merge_asof — the
    single-node reference implementation of the same sweep — on random
    keyed time series, for both directions and both match modes.
"""

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from datafusion_geo_spark.geo.dialect import from_dialect, to_dialect
from datafusion_geo_spark.geo.geom import Geometry
from datafusion_geo_spark.geo.wkt import to_wkt

coord = st.floats(min_value=-1e6, max_value=1e6, allow_nan=False,
                  allow_infinity=False)


@st.composite
def points(draw):
    return Geometry("Point", (draw(coord), draw(coord)))


@st.composite
def linestrings(draw):
    n = draw(st.integers(2, 6))
    return Geometry("LineString", tuple((draw(coord), draw(coord))
                                        for _ in range(n)))


@st.composite
def boxes(draw):
    x1, x2 = sorted((draw(coord), draw(coord)))
    y1, y2 = sorted((draw(coord), draw(coord)))
    if x1 == x2 or y1 == y2:
        x2, y2 = x1 + 1.0, y1 + 1.0
    ring = ((x1, y1), (x1, y2), (x2, y2), (x2, y1), (x1, y1))
    return Geometry("Polygon", (ring,))


@st.composite
def multis(draw):
    kind = draw(st.integers(0, 2))
    if kind == 0:
        n = draw(st.integers(1, 4))
        return Geometry("MultiPoint", tuple((draw(coord), draw(coord))
                                            for _ in range(n)))
    if kind == 1:
        subs = draw(st.lists(linestrings(), min_size=1, max_size=3))
        return Geometry("MultiLineString", tuple(g.parts for g in subs))
    subs = draw(st.lists(boxes(), min_size=1, max_size=3))
    return Geometry("MultiPolygon", tuple(g.parts for g in subs))


@st.composite
def holed_polygons(draw):
    """Polygon with an interior ring — exercises multi-ring encoding."""
    x1, y1 = draw(coord), draw(coord)
    outer = ((x1, y1), (x1, y1 + 10), (x1 + 10, y1 + 10), (x1 + 10, y1),
             (x1, y1))
    hole = ((x1 + 2, y1 + 2), (x1 + 4, y1 + 2), (x1 + 4, y1 + 4),
            (x1 + 2, y1 + 4), (x1 + 2, y1 + 2))
    return Geometry("Polygon", (outer, hole))


@st.composite
def holed_multipolygons(draw):
    """MultiPolygon whose members carry interior rings (nested multi)."""
    subs = draw(st.lists(st.one_of(boxes(), holed_polygons()),
                         min_size=1, max_size=3))
    return Geometry("MultiPolygon", tuple(g.parts for g in subs))


@st.composite
def collections(draw):
    """GeometryCollection over every other kind — possibly EMPTY, and
    possibly containing one nested collection (one level deep, matching
    what the WKT/WKB cores support recursively anyway)."""
    member = st.one_of(points(), linestrings(), boxes(), holed_polygons(),
                       multis(), holed_multipolygons())
    subs = tuple(draw(st.lists(member, min_size=0, max_size=3)))
    if draw(st.booleans()):
        inner = tuple(draw(st.lists(points(), min_size=0, max_size=2)))
        subs = subs + (Geometry("GeometryCollection", inner),)
    return Geometry("GeometryCollection", subs)


any_geom = st.one_of(points(), linestrings(), boxes(), holed_polygons(),
                     multis(), holed_multipolygons(), collections())
srids = st.one_of(st.none(), st.integers(1, 999_999))


def _is_empty(g):
    return g.bounds() is None


@given(any_geom, srids,
       st.sampled_from(["wkb", "ewkb", "geopackage", "mysql", "spatialite",
                        "tagged"]))
@settings(max_examples=300, deadline=None)
def test_dialect_roundtrip_fixed_point(g, srid, dialect):
    g = g.with_srid(srid)
    if dialect == "spatialite" and _is_empty(g):
        # SpatiaLite's blob format REQUIRES an MBR; real SpatiaLite
        # stores empty geometries as NULL. The codec refuses loudly —
        # pin that contract rather than invent a framing.
        with pytest.raises(ValueError, match="empty"):
            to_dialect(g, dialect)
        return
    back = from_dialect(to_dialect(g, dialect), dialect)
    assert to_wkt(back) == to_wkt(g)
    if dialect == "wkb":  # plain ISO WKB cannot carry an SRID
        assert back.srid is None
    else:
        assert back.srid == srid


@given(any_geom, srids)
@settings(max_examples=150, deadline=None)
def test_dialect_auto_sniff_fixed_point(g, srid):
    g = g.with_srid(srid)
    for d in ("ewkb", "geopackage", "spatialite"):
        if d == "spatialite" and _is_empty(g):
            continue  # unencodable (see roundtrip test)
        back = from_dialect(to_dialect(g, d), "auto")
        assert to_wkt(back) == to_wkt(g)


# ---- as-of join vs pandas.merge_asof ----------------------------------

asof_case = st.tuples(
    st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50)),
             min_size=1, max_size=25),           # left (key, t)
    st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50)),
             min_size=1, max_size=25),           # right (key, t)
    st.sampled_from(["backward", "forward"]),
    st.booleans(),                               # allow_exact_matches
)


@given(asof_case)
@settings(max_examples=40, deadline=None)
def test_asof_matches_pandas_merge_asof(spark, case):
    from datafusion_geo_spark.operators.asof_join import asof_join
    lrows, rrows, direction, exact = case
    # dedupe right (key, time) — merge_asof tie order among equal times
    # is positional, ours is payload-order; unique times sidestep that
    seen = {}
    for i, (k, t) in enumerate(rrows):
        seen[(k, t)] = 1000 + i
    rrows = [(k, t, v) for (k, t), v in seen.items()]
    lpdf = pd.DataFrame(lrows, columns=["k", "t"]).sort_values("t") \
        .reset_index(drop=True)
    lpdf["lid"] = range(len(lpdf))
    rpdf = pd.DataFrame(rrows, columns=["k", "rt", "v"]).sort_values("rt") \
        .reset_index(drop=True)

    want = pd.merge_asof(lpdf, rpdf, left_on="t", right_on="rt", by="k",
                         direction=direction, allow_exact_matches=exact)
    want_map = {int(r.lid): (None if pd.isna(r.v) else int(r.v))
                for r in want.itertuples()}

    left = spark.createDataFrame(lpdf, "k long, t long, lid long")
    right = spark.createDataFrame(rpdf, "k long, rt long, v long")
    got = asof_join(left, right, on="k", left_time="t", right_time="rt",
                    right_cols=["v"], direction=direction,
                    allow_exact_matches=exact)
    got_map = {int(r["lid"]): (None if r["v"] is None else int(r["v"]))
               for r in got.collect()}
    assert got_map == want_map


def test_spatialite_count_bomb_rejected_fast():
    """A framed SpatiaLite blob declaring a ~4-billion point/member
    count must fail the bounds check before any count-sized allocation
    (the wkb.py count-bomb class)."""
    import struct
    import time

    import pytest

    from datafusion_geo_spark.geo.dialect import from_spatialite

    def frame(body: bytes) -> bytes:
        # 0x00 start, endian 1, srid, 4×f8 MBR, 0x7C, body..., 0xFE end
        return (b"\x00\x01" + struct.pack("<i", 4326)
                + struct.pack("<dddd", 0, 0, 1, 1) + b"\x7c"
                + body + b"\xfe")

    bombs = [
        frame(struct.pack("<II", 2, 0xFFFFFFF0)),          # linestring pts
        frame(struct.pack("<III", 3, 1, 0xFFFFFFF0)),      # ring pts
        frame(struct.pack("<II", 3, 0xFFFFFFF0)),          # ring count
        frame(struct.pack("<II", 7, 0xFFFFFFF0)),          # members
    ]
    for b in bombs:
        t0 = time.time()
        with pytest.raises(ValueError):
            from_spatialite(b)
        assert time.time() - t0 < 0.1, b.hex()


def test_spatialite_decoder_never_crashes_on_junk():
    """Random bytes inside valid framing either decode or raise
    ValueError — no other exception escapes."""
    import random
    import struct

    from datafusion_geo_spark.geo.dialect import from_spatialite
    from datafusion_geo_spark.geo.geom import Geometry
    rng = random.Random(11)
    for _ in range(20000):
        n = rng.randint(0, 40)
        body = bytes(rng.randrange(256) for _ in range(n))
        blob = (b"\x00\x01" + struct.pack("<i", 4326)
                + struct.pack("<dddd", 0, 0, 1, 1) + b"\x7c"
                + body + b"\xfe")
        try:
            g = from_spatialite(blob)
            assert isinstance(g, Geometry)
        except ValueError:
            pass
