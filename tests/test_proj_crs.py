"""Generic projected-CRS layer (geo/proj.py round-10 extension):
Lambert Conformal Conic 2SP, Albers Equal Area, generic Transverse
Mercator, Helmert datum shift, EPSG registry, and 4326-hub routing
through transform_geometry / the st_transform kernel.

External anchors are published constants: the Ordnance Survey worked
example (A Guide to Coordinate Systems in Great Britain, Annexe C),
the EPSG origin definitions (projecting the origin must yield exactly
(FE, FN)), and the defining property of each family (standard-parallel
scale = 1 for conformal conics, area preservation for Albers).
"""

import math
import random

import pytest

import pyspark.sql.functions as F

from datafusion_geo_spark.geo.geom import Geometry
from datafusion_geo_spark.geo import proj
from datafusion_geo_spark.geo.proj import (AIRY1830, CRS_REGISTRY, FT_US,
                                           GRS80, WGS84, AlbersEA, Helmert,
                                           LCC2SP, TMGeneric,
                                           transform_geometry)

BOXES = {
    2263: (-74.7, -72.7, 40.2, 41.2),
    32118: (-74.7, -72.7, 40.2, 41.2),
    2154: (-4.5, 8.0, 42.0, 51.0),
    5070: (-124.0, -67.0, 25.0, 49.0),
    26917: (-84.0, -78.0, 25.0, 48.0),
    27700: (-7.5, 1.8, 50.0, 60.8),
    3035: (-10.0, 30.0, 35.0, 70.0),
}


# ------------------------------------------------- published anchors

def test_osgb_worked_example_sub_mm():
    # OS Guide Annexe C: OSGB36 geographic -> National Grid
    tm = TMGeneric(AIRY1830, lat0=49.0, lon0=-2.0, k0=0.9996012717,
                   fe=400000.0, fn=-100000.0)
    lat = 52 + 39 / 60 + 27.2531 / 3600
    lon = 1 + 43 / 60 + 4.5177 / 3600
    e, n = tm.forward(lon, lat)
    assert e == pytest.approx(651409.903, abs=5e-4)
    assert n == pytest.approx(313177.270, abs=5e-4)


def test_origin_maps_to_false_origin():
    # EPSG definition: the projection origin projects to (FE, FN)
    for code, (lon0, lat0, fe, fn) in {
        2263: (-74.0, 40.16666666666666, 984250.0, 0.0),
        32118: (-74.0, 40.16666666666666, 300000.0, 0.0),
        2154: (3.0, 46.5, 700000.0, 6600000.0),
        5070: (-96.0, 23.0, 0.0, 0.0),
        26917: (-81.0, 0.0, 500000.0, 0.0),
        3035: (10.0, 52.0, 4321000.0, 3210000.0),
    }.items():
        x, y = CRS_REGISTRY[code].forward(lon0, lat0)
        assert x == pytest.approx(fe, abs=1e-6), code
        assert y == pytest.approx(fn, abs=1e-6), code


def test_ny_ftus_vs_meter_variants_consistent():
    # EPSG:2263 is EPSG:32118 re-expressed in US survey feet
    lon, lat = -73.9857, 40.7484
    xf, yf = CRS_REGISTRY[2263].forward(lon, lat)
    xm, ym = CRS_REGISTRY[32118].forward(lon, lat)
    assert xf * FT_US == pytest.approx(xm, abs=1e-6)
    assert yf * FT_US == pytest.approx(ym, abs=1e-6)


def test_utm17_grs80_close_to_wgs84_utm():
    # GRS80 and WGS84 flattenings differ in the 10th digit: the same
    # TM point must agree to ~0.1 mm, and NOT exactly (different
    # ellipsoid constants actually flow through)
    a = CRS_REGISTRY[26917].forward(-80.5, 40.0)
    b = proj.transformer(4326, 32617)(-80.5, 40.0)
    assert abs(a[0] - b[0]) < 1e-3 and abs(a[1] - b[1]) < 1e-3
    assert (a[0], a[1]) != (b[0], b[1])


# ------------------------------------------------ family invariants

def test_roundtrip_accuracy_all_registry():
    rng = random.Random(7)
    for code, (lo1, lo2, la1, la2) in BOXES.items():
        crs = CRS_REGISTRY[code]
        tol = 1e-7 if code == 27700 else 1e-9  # Helmert reverse is
        # the standard negated-parameter first-order inverse
        for _ in range(200):
            lon = rng.uniform(lo1, lo2)
            lat = rng.uniform(la1, la2)
            x, y = crs.forward(lon, lat)
            lon2, lat2 = crs.inverse(x, y)
            assert abs(lon2 - lon) < tol and abs(lat2 - lat) < tol, code


def test_lcc_scale_one_on_standard_parallel():
    # conformal conic defining property: scale factor 1 along both
    # standard parallels — projected arc length along the parallel
    # equals the ellipsoidal parallel arc a·m(φ)·dλ
    crs = CRS_REGISTRY[2154]
    for lat in (49.0, 44.0):
        phi = lat * proj.DEG2RAD
        dlam = 0.01 * proj.DEG2RAD
        x1, y1 = crs.forward(3.0, lat)
        x2, y2 = crs.forward(3.01, lat)
        chord = math.hypot(x2 - x1, y2 - y1)
        arc = GRS80.a * GRS80.m(phi) * dlam
        assert chord == pytest.approx(arc, rel=1e-8)


def test_albers_preserves_area():
    # equal-area defining property: a 1°x1° quad's projected planar
    # area equals its ellipsoidal (authalic) area  R_q²·dλ·(sinβ2−sinβ1)
    crs = CRS_REGISTRY[5070]
    lon, lat = -100.0, 40.0
    ring = [(lon, lat), (lon + 1, lat), (lon + 1, lat + 1),
            (lon, lat + 1), (lon, lat)]
    pts = [crs.forward(a, b) for a, b in ring]
    planar = 0.0
    for i in range(4):
        (x1, y1), (x2, y2) = pts[i], pts[i + 1]
        planar += x1 * y2 - x2 * y1
    planar = abs(planar) / 2.0
    # straight-edge approximation of the curved graticule: refine the
    # edges so the polygonal area converges to the true image area
    fine = []
    steps = 64
    for i in range(4):
        (a1, b1), (a2, b2) = ring[i], ring[i + 1]
        for s in range(steps):
            t = s / steps
            fine.append(crs.forward(a1 + t * (a2 - a1),
                                    b1 + t * (b2 - b1)))
    fine.append(fine[0])
    planar = 0.0
    for i in range(len(fine) - 1):
        (x1, y1), (x2, y2) = fine[i], fine[i + 1]
        planar += x1 * y2 - x2 * y1
    planar = abs(planar) / 2.0
    q1, q2 = GRS80.q(lat * proj.DEG2RAD), GRS80.q((lat + 1) * proj.DEG2RAD)
    authalic = (GRS80.a ** 2 / 2.0) * (1.0 * proj.DEG2RAD) * (q2 - q1)
    assert planar == pytest.approx(authalic, rel=1e-6)


def test_laea_preserves_area():
    # the second equal-area family: same refined-graticule invariant
    crs = CRS_REGISTRY[3035]
    lon, lat = 15.0, 50.0
    ring = [(lon, lat), (lon + 1, lat), (lon + 1, lat + 1),
            (lon, lat + 1), (lon, lat)]
    fine = []
    for i in range(4):
        (a1, b1), (a2, b2) = ring[i], ring[i + 1]
        for s in range(64):
            t = s / 64
            fine.append(crs.forward(a1 + t * (a2 - a1),
                                    b1 + t * (b2 - b1)))
    fine.append(fine[0])
    planar = abs(sum(x1 * y2 - x2 * y1
                     for (x1, y1), (x2, y2)
                     in zip(fine, fine[1:]))) / 2.0
    q1, q2 = GRS80.q(lat * proj.DEG2RAD), GRS80.q((lat + 1) * proj.DEG2RAD)
    authalic = (GRS80.a ** 2 / 2.0) * (1.0 * proj.DEG2RAD) * (q2 - q1)
    assert planar == pytest.approx(authalic, rel=1e-6)


def test_laea_center_inverse_exact():
    # rho = 0 branch: the projection center inverts to (lon0, lat0)
    lo, la = CRS_REGISTRY[3035].inverse(4321000.0, 3210000.0)
    assert lo == pytest.approx(10.0, abs=1e-12)
    assert la == pytest.approx(52.0, abs=1e-9)


def test_tm_lat0_offset_is_rectifying_northing():
    # lat0 handling: projecting (lon0, lat0) must give (FE, FN)
    tm = TMGeneric(AIRY1830, lat0=49.0, lon0=-2.0, k0=0.9996012717,
                   fe=400000.0, fn=-100000.0)
    x, y = tm.forward(-2.0, 49.0)
    assert x == pytest.approx(400000.0, abs=1e-6)
    assert y == pytest.approx(-100000.0, abs=1e-6)


def test_helmert_osgb_shift_magnitude():
    # WGS84 (49N 2W) vs OSGB36 true origin: the National Grid datum
    # shift is famously ~100 m horizontally
    x, y = CRS_REGISTRY[27700].forward(-2.0, 49.0)
    d = math.hypot(x - 400000.0, y + 100000.0)
    assert 80.0 < d < 180.0


def test_helmert_roundtrip_and_ecef():
    h = proj._OSGB36
    lon, lat = -0.1276 * proj.DEG2RAD, 51.5072 * proj.DEG2RAD
    lam, phi = h.from_wgs84(lon, lat, AIRY1830)
    lon2, lat2 = h.to_wgs84(lam, phi, AIRY1830)
    assert abs(lon2 - lon) < 1e-9 and abs(lat2 - lat) < 1e-9
    # ECEF of the equator/prime-meridian point is (a, 0, 0): a pure
    # ty translation lands on (a, ty, 0), i.e. λ = atan2(ty, a), φ = 0
    lam, phi = Helmert(0.0, 1000.0, 0.0, 0.0, 0.0, 0.0, 0.0).from_wgs84(
        0.0, 0.0, WGS84)
    assert (lam, phi) == (math.atan2(1000.0, WGS84.a), 0.0)


# ------------------------------------------------------ hub routing

def test_transform_geometry_hub_routing():
    g = Geometry("Point", (-73.9857, 40.7484), 4326)
    sp = transform_geometry(g, 2263)
    assert sp.srid == 2263
    back = transform_geometry(sp, 4326)
    assert back.parts[0] == pytest.approx(-73.9857, abs=1e-8)
    assert back.parts[1] == pytest.approx(40.7484, abs=1e-8)
    # projected -> projected composes through the 4326 hub
    merc = transform_geometry(sp, 3857)
    want = proj.transformer(4326, 3857)(-73.9857, 40.7484)
    assert merc.parts[0] == pytest.approx(want[0], abs=1e-4)
    assert merc.parts[1] == pytest.approx(want[1], abs=1e-4)
    assert merc.srid == 3857
    # legacy UTM codes participate in the hub too
    u = transform_geometry(sp, 32618)
    w = proj.transformer(4326, 32618)(-73.9857, 40.7484)
    assert u.parts[0] == pytest.approx(w[0], abs=1e-4)


def test_transform_geometry_unknown_pair_still_raises():
    g = Geometry("Point", (0.0, 0.0), 4326)
    with pytest.raises(ValueError, match="unsupported SRID pair"):
        transform_geometry(g, 99999)


def test_st_transform_kernel_registry_srid(spark):
    from datafusion_geo_spark.functions import (st_point, st_srid,
                                                st_transform, st_x, st_y)
    df = spark.createDataFrame([(-73.9857, 40.7484)], ["lon", "lat"])
    r = df.select(
        st_x(st_transform(st_point(F.col("lon"), F.col("lat")), 2263,
                          from_srid=4326)).alias("x"),
        st_y(st_transform(st_point(F.col("lon"), F.col("lat")), 2263,
                          from_srid=4326)).alias("y"),
        st_srid(st_transform(st_point(F.col("lon"), F.col("lat")), 2263,
                             from_srid=4326)).alias("srid")).collect()[0]
    want = CRS_REGISTRY[2263].forward(-73.9857, 40.7484)
    assert r.x == pytest.approx(want[0], abs=1e-6)
    assert r.y == pytest.approx(want[1], abs=1e-6)
    assert r.srid == 2263


# ------------------------------------------------ kernel batch path

def test_kernel_batch_inverse_fast_path(spark):
    # CRS -> 4326 with constant from_srid: the point-codec inverse
    from datafusion_geo_spark.functions import (st_point, st_srid,
                                                st_transform, st_x, st_y)
    want = CRS_REGISTRY[5070].forward(-100.0, 40.0)
    df = spark.createDataFrame([tuple(map(float, want))], ["x", "y"])
    r = df.select(
        st_x(st_transform(st_point(F.col("x"), F.col("y")), 4326,
                          from_srid=5070)).alias("lon"),
        st_y(st_transform(st_point(F.col("x"), F.col("y")), 4326,
                          from_srid=5070)).alias("lat"),
        st_srid(st_transform(st_point(F.col("x"), F.col("y")), 4326,
                             from_srid=5070)).alias("srid")).collect()[0]
    assert r.lon == pytest.approx(-100.0, abs=1e-9)
    assert r.lat == pytest.approx(40.0, abs=1e-9)
    assert r.srid == 4326


# ------------------------------------------------- PROJJSON emission

def test_projjson_covers_registry_and_agrees():
    """CRS_META (the PROJJSON source) and CRS_REGISTRY (the transform
    engine) repeat the same published EPSG numbers — pin them together
    so they cannot drift: every registry code has meta, and the meta's
    origin/FE/FN/unit equal the live instance's attributes."""
    from datafusion_geo_spark.geo.proj import (CRS_META, DEG2RAD,
                                               projjson)
    assert set(CRS_META) == set(CRS_REGISTRY)
    for code, meta in CRS_META.items():
        inst = CRS_REGISTRY[code]
        params = {p[0]: p[2] for p in meta["params"]}
        lon0 = params.get(8822, params.get(8802))
        fe = params.get(8826, params.get(8806))
        fn = params.get(8827, params.get(8807))
        assert inst.lon0 == lon0 * DEG2RAD, code
        assert inst.fe == fe, code
        if meta["method"][0] != 9807:
            # TMGeneric folds lat0's rectifying northing into .fn;
            # the conics/LAEA store the raw false northing
            assert inst.fn == fn, code
        assert inst.unit_m == meta["unit"][1], code
        # projecting the declared origin lands exactly on (FE, FN) —
        # pins the latitude params too. 27700's Helmert datum shifts
        # the WGS84 origin, so its meta params are pinned through a
        # datum-free twin built FROM the meta instead.
        lat0 = params.get(8821, params.get(8801))
        probe = inst
        if code == 27700:
            probe = TMGeneric(AIRY1830, lat0=lat0, lon0=lon0,
                              k0=params[8805], fe=fe, fn=fn)
        e, n = probe.forward(lon0, lat0)
        assert e == pytest.approx(fe, abs=1e-6), code
        assert n == pytest.approx(fn, abs=1e-6), code


def test_projjson_shape_and_ids():
    from datafusion_geo_spark.geo.proj import projjson
    doc = projjson(2263)
    assert doc["type"] == "ProjectedCRS"
    assert doc["id"] == {"authority": "EPSG", "code": 2263}
    assert doc["base_crs"]["id"]["code"] == 4269
    assert doc["conversion"]["method"]["id"]["code"] == 9802
    # ftUS axis unit carries the exact conversion factor
    unit = doc["coordinate_system"]["axis"][0]["unit"]
    assert unit["conversion_factor"] == FT_US
    # geographic flavor
    g = projjson(4326)
    assert g["type"] == "GeographicCRS" and g["id"]["code"] == 4326
    # unknown code: clean ValueError naming the supported set
    with pytest.raises(ValueError, match="not a registered CRS"):
        projjson(99999)


# ---------------------------------------- Vincenty spheroid distance

def test_vincenty_published_example():
    # Geoscience Australia worked example (Flinders Peak -> Buninyong,
    # GRS80): s = 54972.271 m
    from datafusion_geo_spark.geo.proj import vincenty_m
    lat1 = -(37 + 57 / 60 + 3.72030 / 3600)
    lon1 = 144 + 25 / 60 + 29.52440 / 3600
    lat2 = -(37 + 39 / 60 + 10.15610 / 3600)
    lon2 = 143 + 55 / 60 + 35.38390 / 3600
    assert vincenty_m(lon1, lat1, lon2, lat2, GRS80) == pytest.approx(
        54972.271, abs=1e-3)


def test_vincenty_equator_arc_exact():
    # along the equator the geodesic is the equator: s = a * dlam
    from datafusion_geo_spark.geo.proj import vincenty_m
    want = WGS84.a * math.pi / 180.0
    assert vincenty_m(0.0, 0.0, 1.0, 0.0) == pytest.approx(want, abs=1e-6)


def test_vincenty_vs_sphere_within_flattening():
    from datafusion_geo_spark.geo.proj import haversine_m, vincenty_m
    for lon1, lat1, lon2, lat2 in [(10, 11, 12, 13), (-70, 40, -73, 45),
                                   (0, -60, 5, -55), (100, 5, 103, -2)]:
        dv = vincenty_m(lon1, lat1, lon2, lat2)
        dh = haversine_m(lon1, lat1, lon2, lat2)
        assert abs(dv - dh) / dv < 0.006  # flattening is ~1/298


def test_vincenty_coincident_and_meridian():
    from datafusion_geo_spark.geo.proj import vincenty_m
    assert vincenty_m(5.0, 5.0, 5.0, 5.0) == 0.0
    # one degree of meridian arc at the equator (WGS84): 110574.4 m
    assert vincenty_m(0.0, 0.0, 0.0, 1.0) == pytest.approx(110574.4,
                                                           abs=0.1)


def test_vincenty_near_antipodal_contract():
    # Deterministic-divergence contract (documented at
    # geo/proj.py vincenty_m docstring): near-antipodal pairs return
    # the fixed-8-round λ-iteration value, NOT the converged geodesic
    # (the classical Vincenty inverse fails to converge there, and
    # PostGIS's converged number differs). Pin the exact doubles so
    # any change to the iteration count / order is a loud regression.
    from datafusion_geo_spark.geo.proj import vincenty_m
    cases = {
        (0.0, 0.0, 179.9, 0.0): 19914725.340013977,
        (0.0, 0.0, 179.9, 0.1): 19915618.74863518,
        (10.0, 45.0, -169.95, -44.9): 19959087.737041734,
        (0.0, 30.0, 179.9, -29.9): 19939264.869036093,
    }
    for args, want in cases.items():
        assert vincenty_m(*args) == want
    # GRS80 flavor of the equatorial case, same contract
    assert vincenty_m(0.0, 0.0, 179.9, 0.0, GRS80) == 19914725.33935975


def test_albers_inverse_pole_clamp():
    # ADVICE r10: clamp qv itself to [-qp, qp] before the Newton loop
    # so points at/beyond the pole radius stay bounded (the step
    # divides by cos(φ)~1e-16 at the pole)
    import numpy as np
    alb = CRS_REGISTRY[5070]
    xp, yp = alb.forward(-96.0, 90.0)
    lon, lat = alb.inverse(xp, yp)
    assert lat == 90.0 and abs(lon - (-96.0)) < 1e-9
    # beyond the pole radius (toward the cone apex): φ pins to the
    # pole instead of being kicked off by the unbounded residual
    apex_y = alb.fn + alb.rho0
    for y in ((yp + apex_y) / 2.0, apex_y - 1000.0):
        lon2, lat2 = alb.inverse(alb.fe, y)
        assert lat2 == 90.0 and math.isfinite(lon2)
    # array input agrees
    lons, lats = alb.inverse(np.array([xp, alb.fe]),
                             np.array([yp, apex_y - 1000.0]))
    assert lats[0] == 90.0 and lats[1] == 90.0


def test_laea_inverse_pole_clamp():
    import numpy as np
    laea = CRS_REGISTRY[3035]
    xl, yl = laea.forward(10.0, 90.0)
    lon, lat = laea.inverse(xl, yl)
    assert lat == 90.0 and lon == 10.0
    # past the pole along the central meridian: still finite, ~pole
    lon2, lat2 = laea.inverse(xl, yl + 5000.0)
    assert math.isfinite(lat2) and lat2 > 89.9
    lons, lats = laea.inverse(np.array([xl]), np.array([yl]))
    assert lats[0] == 90.0


def test_st_distancespheroid_kernel(spark):
    from datafusion_geo_spark.functions import (st_distancespheroid,
                                                st_point)
    from datafusion_geo_spark.geo.proj import vincenty_m
    df = spark.createDataFrame([(10.0, 11.0, 12.0, 13.0)],
                               ["x1", "y1", "x2", "y2"])
    r = df.select(st_distancespheroid(
        st_point(F.col("x1"), F.col("y1")),
        st_point(F.col("x2"), F.col("y2"))).alias("d")).collect()[0]
    assert r.d == vincenty_m(10.0, 11.0, 12.0, 13.0)


def test_line_batch_transform_fast_path(spark):
    # uniform LINESTRING batches take the numpy line codec and agree
    # with transform_geometry per row, SRID stamped
    from datafusion_geo_spark.functions import (st_astext, st_srid,
                                                st_transform)
    from datafusion_geo_spark.geo.geom import Geometry
    from datafusion_geo_spark.geo.proj import transform_geometry
    from datafusion_geo_spark.geo.wkb import to_wkb

    lines = [Geometry("LineString",
                      ((-74.3 + 0.01 * i, 40.5), (-74.0, 40.8 + 0.001 * i)))
             for i in range(40)]
    df = spark.createDataFrame([(i, to_wkb(g)) for i, g in enumerate(lines)],
                               "i long, geom binary")
    t = st_transform(F.col("geom"), 2263, from_srid=4326)
    rows = df.select("i", st_astext(t).alias("wkt"),
                     st_srid(t).alias("srid")).collect()
    assert all(r.srid == 2263 for r in rows)
    import re as _re
    for r in rows:
        want = transform_geometry(lines[r.i], 2263, from_srid=4326)
        got = [float(v) for v in _re.findall(r"-?\d+\.?\d*(?:[eE]-?\d+)?",
                                             r.wkt)]
        flat = [c for pt in want.parts for c in pt]
        assert len(got) == len(flat) == 4
        for a, b in zip(got, flat):
            # read back through the WKT text
            assert a == pytest.approx(b, abs=1e-6)


def test_geographic_aliases_route_like_wgs84():
    # NAD83 (4269) / ETRS89 (4258) geographic: null transform, SRID
    # stamp preserved on output
    g = Geometry("Point", (-73.9857, 40.7484), 4269)
    t = transform_geometry(g, 2263)
    assert t.parts == CRS_REGISTRY[2263].forward(-73.9857, 40.7484)
    assert t.srid == 2263
    back = transform_geometry(t, 4269)
    assert back.srid == 4269
    assert back.parts[0] == pytest.approx(-73.9857, abs=1e-8)
    ident = transform_geometry(Geometry("Point", (1.0, 2.0), 4258), 4326)
    assert ident.parts == (1.0, 2.0) and ident.srid == 4326
    ident2 = transform_geometry(Geometry("Point", (1.0, 2.0), 4326), 4269)
    assert ident2.parts == (1.0, 2.0) and ident2.srid == 4269
