"""Property-based tests (hypothesis) for the round-10 projected-CRS
layer and the geodesic distances — randomized over each CRS's service
area.

Invariants:
  * forward∘inverse is identity to family-specific tolerance
  * the hub composition src -> dst equals inverse-then-forward
  * conformal conics preserve tiny-circle shape (local isotropy);
    equal-area projections preserve tiny-quad area
  * Vincenty: symmetry to ulps, triangle inequality vs haversine
    envelope, degenerate coincident pair
"""

import math

import pytest
from hypothesis import given, settings, strategies as st

from datafusion_geo_spark.geo import proj
from datafusion_geo_spark.geo.geom import Geometry
from datafusion_geo_spark.geo.proj import (CRS_REGISTRY, GRS80, WGS84,
                                           haversine_m,
                                           transform_geometry,
                                           vincenty_m)

SERVICE = {
    2263: (-74.7, -72.7, 40.2, 41.2),
    32118: (-74.7, -72.7, 40.2, 41.2),
    2154: (-4.5, 8.0, 42.0, 51.0),
    5070: (-124.0, -67.0, 25.0, 49.0),
    26917: (-84.0, -78.0, 25.0, 48.0),
    27700: (-7.5, 1.8, 50.0, 60.8),
    3035: (-10.0, 30.0, 35.0, 70.0),
}

code_st = st.sampled_from(sorted(SERVICE))
unit = st.floats(0.0, 1.0, allow_nan=False)


def _pt(code, u, v):
    lo1, lo2, la1, la2 = SERVICE[code]
    return (lo1 + u * (lo2 - lo1), la1 + v * (la2 - la1))


@settings(max_examples=150, deadline=None)
@given(code_st, unit, unit)
def test_roundtrip_fuzz(code, u, v):
    lon, lat = _pt(code, u, v)
    crs = CRS_REGISTRY[code]
    x, y = crs.forward(lon, lat)
    lon2, lat2 = crs.inverse(x, y)
    tol = 1e-7 if code == 27700 else 1e-9
    assert abs(lon2 - lon) < tol and abs(lat2 - lat) < tol


@settings(max_examples=40, deadline=None)
@given(unit, unit)
def test_hub_composition_fuzz(u, v):
    # NY box is inside both 2263's and 5070's service areas
    lon, lat = _pt(2263, u, v)
    g = Geometry("Point", (lon, lat), 4326)
    via = transform_geometry(transform_geometry(g, 2263), 5070)
    direct = CRS_REGISTRY[5070].forward(lon, lat)
    assert via.parts[0] == pytest.approx(direct[0], abs=1e-4)
    assert via.parts[1] == pytest.approx(direct[1], abs=1e-4)
    assert via.srid == 5070


@settings(max_examples=60, deadline=None)
@given(st.sampled_from([2263, 32118, 2154]), unit, unit)
def test_conformal_local_isotropy_fuzz(code, u, v):
    # conformal: equal GROUND steps east and north project to equal
    # planar lengths. Ground length of dλ is ν·cosφ·dλ and of dφ is
    # ρ_m·dφ with the ellipsoid's two curvature radii (they differ by
    # ~0.4% — using cosφ alone is an ellipsoid effect, not a
    # projection one).
    lon, lat = _pt(code, u, v)
    crs = CRS_REGISTRY[code]
    phi = lat * proj.DEG2RAD
    s = math.sin(phi)
    d = 1.0 - GRS80.e2 * s * s
    nu = GRS80.a / math.sqrt(d)
    rho_m = GRS80.a * (1.0 - GRS80.e2) / d ** 1.5
    h = 10.0  # meters of ground step
    dlon = (h / (nu * math.cos(phi))) * proj.RAD2DEG
    dlat = (h / rho_m) * proj.RAD2DEG
    x0, y0 = crs.forward(lon, lat)
    xe, ye = crs.forward(lon + dlon, lat)
    xn, yn = crs.forward(lon, lat + dlat)
    de = math.hypot(xe - x0, ye - y0)
    dn = math.hypot(xn - x0, yn - y0)
    # 2263 is in ftUS — the RATIO is unit-free
    assert de / dn == pytest.approx(1.0, rel=1e-3)


@settings(max_examples=40, deadline=None)
@given(st.sampled_from([5070, 3035]), unit, unit)
def test_equal_area_tiny_quad_fuzz(code, u, v):
    lon, lat = _pt(code, u, v)
    crs = CRS_REGISTRY[code]
    d = 0.01
    ring = [(lon, lat), (lon + d, lat), (lon + d, lat + d),
            (lon, lat + d), (lon, lat)]
    pts = [crs.forward(a, b) for a, b in ring]
    planar = abs(sum(x1 * y2 - x2 * y1 for (x1, y1), (x2, y2)
                     in zip(pts, pts[1:]))) / 2.0
    q1 = GRS80.q(lat * proj.DEG2RAD)
    q2 = GRS80.q((lat + d) * proj.DEG2RAD)
    authalic = (GRS80.a ** 2 / 2.0) * (d * proj.DEG2RAD) * (q2 - q1)
    # straight-edge chords of a 0.01-deg quad: curvature error ~1e-6
    assert planar == pytest.approx(authalic, rel=1e-5)


ll = st.tuples(st.floats(-179.0, 179.0, allow_nan=False),
               st.floats(-80.0, 80.0, allow_nan=False))


@settings(max_examples=150, deadline=None)
@given(ll, ll)
def test_vincenty_fuzz(p1, p2):
    lon1, lat1 = p1
    lon2, lat2 = p2
    d = vincenty_m(lon1, lat1, lon2, lat2)
    assert d >= 0.0
    # symmetry to float noise
    d2 = vincenty_m(lon2, lat2, lon1, lat1)
    assert d2 == pytest.approx(d, rel=1e-9, abs=1e-6)
    # haversine envelope away from the antipodal pathology:
    # |spheroid - sphere| < 0.6% + the radius-definition slack
    h = haversine_m(lon1, lat1, lon2, lat2)
    if 1.0 < h < 1.9e7:
        assert abs(d - h) / max(d, 1.0) < 0.01
    # coincident
    assert vincenty_m(lon1, lat1, lon1, lat1) == 0.0


# ------------------------------------------ Vincenty direct problem

def test_vincenty_direct_published_example():
    from datafusion_geo_spark.geo.proj import vincenty_direct
    lat1 = -(37 + 57 / 60 + 3.72030 / 3600)
    lon1 = 144 + 25 / 60 + 29.52440 / 3600
    az = (306 + 52 / 60 + 5.37 / 3600) * math.pi / 180
    lon2, lat2 = vincenty_direct(lon1, lat1, 54972.271, az, GRS80)
    assert lon2 == pytest.approx(143 + 55 / 60 + 35.38390 / 3600,
                                 abs=1e-7)
    assert lat2 == pytest.approx(-(37 + 39 / 60 + 10.15610 / 3600),
                                 abs=1e-7)


@settings(max_examples=150, deadline=None)
@given(st.floats(-179.0, 179.0, allow_nan=False),
       st.floats(-80.0, 80.0, allow_nan=False),
       st.floats(1.0, 5e6, allow_nan=False),
       st.floats(0.0, 2 * math.pi, allow_nan=False))
def test_vincenty_direct_inverse_identity_fuzz(lon, lat, d, az):
    from datafusion_geo_spark.geo.proj import vincenty_direct
    lon2, lat2 = vincenty_direct(lon, lat, d, az)
    assert vincenty_m(lon, lat, lon2, lat2) == pytest.approx(
        d, rel=1e-9, abs=1e-6)


def test_vincenty_direct_equator_east():
    from datafusion_geo_spark.geo.proj import vincenty_direct
    d = 111319.0
    lon2, lat2 = vincenty_direct(0.0, 0.0, d, math.pi / 2.0)
    assert lat2 == pytest.approx(0.0, abs=1e-12)
    assert lon2 == pytest.approx(d / WGS84.a * proj.RAD2DEG, abs=1e-9)


def test_st_projectspheroid_kernel(spark):
    import pyspark.sql.functions as F

    from datafusion_geo_spark.functions import (st_point,
                                                st_projectspheroid,
                                                st_x, st_y)
    from datafusion_geo_spark.geo.proj import vincenty_direct
    df = spark.createDataFrame([(10.0, 45.0, 25000.0, 0.7)],
                               ["x", "y", "d", "az"])
    p = st_projectspheroid(st_point(F.col("x"), F.col("y")),
                           F.col("d"), F.col("az"))
    r = df.select(st_x(p).alias("lon"), st_y(p).alias("lat")).collect()[0]
    want = vincenty_direct(10.0, 45.0, 25000.0, 0.7)
    assert (r.lon, r.lat) == want
