"""Coordinate reference transforms (beyond-reference utility).

ST_Transform between WGS84 lon/lat (EPSG:4326; NAD83 4269 and ETRS89
4258 are WGS84-identical aliases), spherical web mercator
(EPSG:3857), UTM (EPSG:326xx north / 327xx south) and every CRS in
``CRS_REGISTRY``, with closed-form formulas (no proj4 dependency; the
container has none). Each projection is written once, as a
``forward``/``inverse`` pair over numpy arrays, and
:func:`transformer` routes an SRID pair through the 4326 hub to one
array function — the single path both :func:`transform_geometry` and
the ST_Transform kernel use. Any other SRID pair raises. PostGIS
ST_Transform semantics: the source SRID comes from the geometry (EWKB)
unless the caller supplies one; the result is stamped with the target
SRID.

Determinism: the arithmetic is written with explicit literal constants
and a fixed operation order (lon * DEG2RAD, then * R) so a SQL oracle
multiplying by the same decimal literals reproduces the doubles to the
last ulp before any rounding.
"""

from __future__ import annotations

import copy
import math

import numpy as np

from .geom import Geometry

R_MAJOR = 6378137.0
DEG2RAD = 0.017453292519943295   # repr(math.pi / 180)
RAD2DEG = 57.29577951308232      # repr(180 / math.pi)
PI_4 = 0.7853981633974483        # repr(math.pi / 4)

SRID_LONLAT = 4326
SRID_MERCATOR = 3857
#: geographic CRSs treated as WGS84-identical (null transform —
#: plate-fixed offsets are sub-meter, the analytics convention the
#: projected registry entries already rely on)
GEOGRAPHIC_ALIASES = frozenset({4269, 4258})


# ---- UTM (EPSG:326xx north / 327xx south) — closed-form Transverse
# Mercator, Krüger α/β series to n³ (public formulas; sub-mm inside a
# standard 6° zone). Constants precomputed once from WGS84
# f = 1/298.257223563 and hard-coded as shortest-repr literals so a SQL
# oracle can embed the identical doubles. A zone is a TMGeneric on
# these literals (see _projection).
K0_UTM = 0.9996
FE_UTM = 500000.0
FN_SOUTH = 10000000.0
N_TM = 0.0016792203863837047        # n = f / (2 - f)
A_TM = 6367449.145823415            # rectifying radius a/(1+n)(1+n²/4+n⁴/64)
TT_TM = 0.08181919084262149         # 2·√n/(1+n)  (= first eccentricity e)
ALPHA_TM = (0.0008377318188192541, 7.608496958699166e-07,
            1.2034877875966646e-09)
BETA_TM = (0.000837732164082144, 5.906110863719917e-08,
           1.6769911794379754e-10)
DELTA_TM = (0.003356551448628875, 6.571913193172695e-06,
            1.76774599620756e-08)


def utm_zone(srid: int):
    """(zone, is_north) for EPSG:32601-32660 / 32701-32760, else None."""
    if 32601 <= srid <= 32660:
        return srid - 32600, True
    if 32701 <= srid <= 32760:
        return srid - 32700, False
    return None


# PostGIS ST_DistanceSphere radius (mean Earth radius, meters)
R_SPHERE = 6371008.0


def haversine_m(lon1: float, lat1: float, lon2: float, lat2: float) -> float:
    """Great-circle distance in meters on the R_SPHERE sphere
    (PostGIS ST_DistanceSphere). Fixed operation order so a SQL oracle
    with the same literals reproduces the doubles exactly."""
    phi1 = lat1 * DEG2RAD
    phi2 = lat2 * DEG2RAD
    dphi = (lat2 - lat1) * DEG2RAD
    dlam = (lon2 - lon1) * DEG2RAD
    s1 = math.sin(dphi / 2.0)
    s2 = math.sin(dlam / 2.0)
    a = s1 * s1 + math.cos(phi1) * math.cos(phi2) * s2 * s2
    if a > 1.0:
        a = 1.0
    return 2.0 * R_SPHERE * math.asin(math.sqrt(a))


def sphere_azimuth(lon1: float, lat1: float,
                   lon2: float, lat2: float) -> float:
    """Initial great-circle bearing from point 1 to point 2, radians in
    [0, 2π) clockwise from north (the geography twin of the planar
    ST_Azimuth). Fixed literal constants / operation order for oracle
    replay."""
    phi1 = lat1 * DEG2RAD
    phi2 = lat2 * DEG2RAD
    dlam = (lon2 - lon1) * DEG2RAD
    y = math.sin(dlam) * math.cos(phi2)
    x = (math.cos(phi1) * math.sin(phi2)
         - math.sin(phi1) * math.cos(phi2) * math.cos(dlam))
    return math.atan2(y, x) % (2.0 * math.pi)


def sphere_project(lon: float, lat: float, dist_m: float,
                   azimuth: float) -> tuple:
    """Destination point at ``dist_m`` meters along the great circle
    with initial bearing ``azimuth`` (radians clockwise from north) —
    the geography form of PostGIS ST_Project, on the R_SPHERE
    sphere."""
    phi1 = lat * DEG2RAD
    lam1 = lon * DEG2RAD
    delta = dist_m / R_SPHERE
    sphi2 = (math.sin(phi1) * math.cos(delta)
             + math.cos(phi1) * math.sin(delta) * math.cos(azimuth))
    # rounding near the poles can push |sphi2| infinitesimally past 1;
    # clamp before asin (same guard as haversine_m's a > 1.0 clamp)
    sphi2 = max(-1.0, min(1.0, sphi2))
    phi2 = math.asin(sphi2)
    y = math.sin(azimuth) * math.sin(delta) * math.cos(phi1)
    x = math.cos(delta) - math.sin(phi1) * sphi2
    lam2 = lam1 + math.atan2(y, x)
    lon2 = lam2 * RAD2DEG
    if lon2 > 180.0:
        lon2 -= 360.0
    elif lon2 < -180.0:
        lon2 += 360.0
    return (lon2, phi2 * RAD2DEG)


def sphere_ring_sum(ring) -> float:
    """Raw spherical-area accumulator for one closed ring: the JPL
    "Some Algorithms for Polygons on a Sphere" (Chamberlain & Duquette
    2007) edge sum Σ (λ2−λ1)·(2 + sin φ1 + sin φ2) over edges in vertex
    order (radians for λ, degrees in, the turf.js ringArea form).
    Fixed operation order so a SQL oracle spelling the same per-edge
    terms and left-associated additions replays the double exactly."""
    total = 0.0
    for i in range(len(ring) - 1):
        lon1, lat1 = ring[i]
        lon2, lat2 = ring[i + 1]
        total = total + (lon2 - lon1) * DEG2RAD * (
            2.0 + math.sin(lat1 * DEG2RAD) + math.sin(lat2 * DEG2RAD))
    return total


def sphere_area_m2(g: Geometry) -> float:
    """Geography ST_Area twin on the R_SPHERE sphere: per polygon,
    |shell sum| − Σ |hole sums|, each scaled by R²/2; areal parts only
    (lines/points contribute 0, like PostGIS geography ST_Area).
    Coordinates are interpreted as lon/lat degrees."""
    total = 0.0
    for part in g.geometries():
        if part.typ != "Polygon" or not part.parts:
            continue
        rings = part.parts
        poly = abs(sphere_ring_sum(rings[0])) * R_SPHERE * R_SPHERE / 2.0
        for hole in rings[1:]:
            poly = poly - abs(sphere_ring_sum(hole)) \
                * R_SPHERE * R_SPHERE / 2.0
        total = total + poly
    return total


def _sphere_path_m(coords) -> float:
    total = 0.0
    for i in range(len(coords) - 1):
        lon1, lat1 = coords[i]
        lon2, lat2 = coords[i + 1]
        total = total + haversine_m(lon1, lat1, lon2, lat2)
    return total


def sphere_length_m(g: Geometry) -> float:
    """Geography ST_Length twin: great-circle length of the linear
    parts (haversine per segment, summed in vertex order); areal and
    puntal parts contribute 0, like PostGIS geography ST_Length."""
    total = 0.0
    for part in g.geometries():
        if part.typ == "LineString" and part.parts:
            total = total + _sphere_path_m(part.parts)
    return total


def sphere_perimeter_m(g: Geometry) -> float:
    """Geography ST_Perimeter twin: great-circle length of every ring
    (shells and holes) of the areal parts; linear/puntal parts
    contribute 0."""
    total = 0.0
    for part in g.geometries():
        if part.typ == "Polygon" and part.parts:
            for ring in part.parts:
                total = total + _sphere_path_m(ring)
    return total


# ===================================================================
# Generic projected CRS support (round 10; beyond-reference — the
# reference has no ST_Transform at all). Closed-form Snyder (1987,
# USGS PP 1395) formulas for the three projection families that carry
# virtually all regional analytics CRSs:
#
#   - Lambert Conformal Conic 2SP  (EPSG method 9802: US state plane
#     LCC zones, France Lambert-93, ...)
#   - Albers Equal Area            (EPSG method 9822: EPSG:5070 CONUS
#     Albers, the standard US land-analytics CRS)
#   - Transverse Mercator          (EPSG method 9807 with arbitrary
#     central meridian / scale / origin / ellipsoid: state plane TM
#     zones, national grids, non-WGS84 UTM)
#
# plus the 7-parameter Helmert (position-vector) datum shift for CRSs
# whose geographic datum is NOT WGS84-equivalent (OSGB36). NAD83 and
# ETRS89 are treated as WGS84-identical (null transform) — the
# sub-meter plate-fixed offset is the universal analytics convention.
#
# Every derived projection constant is precomputed once (Python
# floats) and exposed as attributes so the SQL oracle can embed the
# IDENTICAL doubles via repr(); per-point math uses only
# sin/cos/tan/atan/atan2/asin/ln/exp/pow/sqrt, all available in
# DuckDB, so oracles replay the chain term-for-term (libm-ulp
# divergence only, far below the cm comparison rounding).

_QUARTER_PI = PI_4


class Ellipsoid:
    """Reference ellipsoid with every derived constant the projection
    formulas need, including Krüger series coefficients to n⁴
    (~1e-12 rad). UTM zones instead run on a WGS84 copy carrying the
    hard-coded n³ literals (``_UTM_WGS84``), which SQL oracles embed."""

    def __init__(self, name: str, a: float, inv_f: float):
        self.name = name
        self.a = a
        self.f = 1.0 / inv_f
        self.e2 = self.f * (2.0 - self.f)
        self.e = math.sqrt(self.e2)
        self.ep2 = self.e2 / (1.0 - self.e2)
        self.b = a * (1.0 - self.f)
        n = self.f / (2.0 - self.f)
        self.n = n
        # rectifying radius  A = a/(1+n) · (1 + n²/4 + n⁴/64)
        self.A = a / (1.0 + n) * (1.0 + n * n / 4.0 + n ** 4 / 64.0)
        self.alpha = (
            n / 2.0 - 2.0 * n ** 2 / 3.0 + 5.0 * n ** 3 / 16.0
            + 41.0 * n ** 4 / 180.0,
            13.0 * n ** 2 / 48.0 - 3.0 * n ** 3 / 5.0
            + 557.0 * n ** 4 / 1440.0,
            61.0 * n ** 3 / 240.0 - 103.0 * n ** 4 / 140.0,
            49561.0 * n ** 4 / 161280.0)
        self.beta = (
            n / 2.0 - 2.0 * n ** 2 / 3.0 + 37.0 * n ** 3 / 96.0
            - n ** 4 / 360.0,
            n ** 2 / 48.0 + n ** 3 / 15.0 - 437.0 * n ** 4 / 1440.0,
            17.0 * n ** 3 / 480.0 - 37.0 * n ** 4 / 840.0,
            4397.0 * n ** 4 / 161280.0)
        self.delta = (
            2.0 * n - 2.0 * n ** 2 / 3.0 - 2.0 * n ** 3
            + 116.0 * n ** 4 / 45.0,
            7.0 * n ** 2 / 3.0 - 8.0 * n ** 3 / 5.0
            - 227.0 * n ** 4 / 45.0,
            56.0 * n ** 3 / 15.0 - 136.0 * n ** 4 / 35.0,
            4279.0 * n ** 4 / 630.0)
        # conformal-latitude χ -> φ series (Snyder 3-5), for LCC/
        # mercator-family inverses
        e2 = self.e2
        self.chi = (
            e2 / 2.0 + 5.0 * e2 ** 2 / 24.0 + e2 ** 3 / 12.0
            + 13.0 * e2 ** 4 / 360.0,
            7.0 * e2 ** 2 / 48.0 + 29.0 * e2 ** 3 / 240.0
            + 811.0 * e2 ** 4 / 11520.0,
            7.0 * e2 ** 3 / 120.0 + 81.0 * e2 ** 4 / 1120.0,
            4279.0 * e2 ** 4 / 161280.0)
        # authalic-latitude β -> φ series (Snyder 3-18), for Albers
        self.auth = (
            e2 / 3.0 + 31.0 * e2 ** 2 / 180.0 + 517.0 * e2 ** 3 / 5040.0,
            23.0 * e2 ** 2 / 360.0 + 251.0 * e2 ** 3 / 3780.0,
            761.0 * e2 ** 3 / 45360.0)

    # Snyder 14-15 / 15-9: m(φ) = cosφ / sqrt(1 − e² sin²φ)
    def m(self, phi: float) -> float:
        s = math.sin(phi)
        return math.cos(phi) / math.sqrt(1.0 - self.e2 * s * s)

    # Snyder 15-9a: conformal t(φ)
    def t(self, phi: float) -> float:
        s = math.sin(phi)
        return (math.tan(_QUARTER_PI - 0.5 * phi)
                / ((1.0 - self.e * s) / (1.0 + self.e * s))
                ** (self.e * 0.5))

    # Snyder 3-12: authalic q(φ)
    def q(self, phi: float) -> float:
        s = math.sin(phi)
        return (1.0 - self.e2) * (
            s / (1.0 - self.e2 * s * s)
            - (1.0 / (2.0 * self.e))
            * math.log((1.0 - self.e * s) / (1.0 + self.e * s)))


WGS84 = Ellipsoid("WGS84", 6378137.0, 298.257223563)
GRS80 = Ellipsoid("GRS80", 6378137.0, 298.257222101)
AIRY1830 = Ellipsoid("Airy 1830", 6377563.396, 299.3249646)

#: US survey foot in meters (exact ratio 1200/3937)
FT_US = 1200.0 / 3937.0


class Helmert:
    """7-parameter position-vector datum shift WGS84 -> target datum
    (EPSG method 9606 small-angle form; rotations arcsec, scale ppm).
    The reverse direction negates the parameters — the standard
    first-order inverse (error O(rot²) ~ 1e-11 relative, micrometers;
    OS Guide to coordinate systems §6). Heights are taken as 0 —
    planar engine."""

    ARCSEC = math.pi / 648000.0

    def __init__(self, tx, ty, tz, rx_as, ry_as, rz_as, s_ppm):
        self.p = (tx, ty, tz, rx_as * self.ARCSEC, ry_as * self.ARCSEC,
                  rz_as * self.ARCSEC, s_ppm * 1e-6)

    def _shift(self, lon, lat, src: Ellipsoid, dst: Ellipsoid,
               sign: float):
        """Datum shift (numpy arrays, radians): geodetic on ``src`` ->
        ECEF -> Helmert(sign) -> geodetic on ``dst`` by Bowring's closed
        one-step formula (sub-mm for earth-surface points, h≈0)."""
        s, c = np.sin(lat), np.cos(lat)
        nu = src.a / np.sqrt(1.0 - src.e2 * s * s)
        x = nu * c * np.cos(lon)
        y = nu * c * np.sin(lon)
        z = nu * (1.0 - src.e2) * s
        tx, ty, tz, rx, ry, rz, ds = (sign * v for v in self.p)
        k = 1.0 + ds
        x2 = tx + k * (x - rz * y + ry * z)
        y2 = ty + k * (rz * x + y - rx * z)
        z2 = tz + k * (-ry * x + rx * y + z)
        p = np.sqrt(x2 * x2 + y2 * y2)
        th = np.arctan2(z2 * dst.a, p * dst.b)
        st, ct = np.sin(th), np.cos(th)
        lat2 = np.arctan2(z2 + dst.ep2 * dst.b * st * st * st,
                          p - dst.e2 * dst.a * ct * ct * ct)
        return np.arctan2(y2, x2), lat2

    def from_wgs84(self, lon, lat, ell: Ellipsoid):
        """WGS84 geographic (radians) -> target-datum geographic on
        ``ell`` (radians)."""
        return self._shift(lon, lat, WGS84, ell, 1.0)

    def to_wgs84(self, lon, lat, ell: Ellipsoid):
        return self._shift(lon, lat, ell, WGS84, -1.0)


class LCC2SP:
    """Lambert Conformal Conic, 2 standard parallels (EPSG 9802;
    Snyder §15). Angles in degrees, output in native CRS units
    (``unit_m`` meters per unit; FE/FN already in native units)."""

    def __init__(self, ell: Ellipsoid, lat1, lat2, lat0, lon0,
                 fe, fn, unit_m=1.0, datum: Helmert = None):
        self.ell, self.unit_m, self.datum = ell, unit_m, datum
        self.lon0 = lon0 * DEG2RAD
        p1, p2, p0 = (v * DEG2RAD for v in (lat1, lat2, lat0))
        m1, m2 = ell.m(p1), ell.m(p2)
        t1, t2, t0 = ell.t(p1), ell.t(p2), ell.t(p0)
        self.n = ((math.log(m1) - math.log(m2))
                  / (math.log(t1) - math.log(t2)))
        # RF = a·F in NATIVE units: ρ = RF · t^n
        self.RF = (ell.a / unit_m) * (m1 / (self.n * t1 ** self.n))
        self.rho0 = self.RF * t0 ** self.n
        self.fe, self.fn = fe, fn

    def forward(self, lon, lat):
        if self.datum is not None:
            lam, phi = self.datum.from_wgs84(
                lon * DEG2RAD, lat * DEG2RAD, self.ell)
        else:
            lam, phi = lon * DEG2RAD, lat * DEG2RAD
        e = self.ell.e
        s = np.sin(phi)
        t = (np.tan(_QUARTER_PI - 0.5 * phi)
             / ((1.0 - e * s) / (1.0 + e * s)) ** (e * 0.5))
        rho = self.RF * t ** self.n
        th = self.n * (lam - self.lon0)
        return (self.fe + rho * np.sin(th),
                self.fn + self.rho0 - rho * np.cos(th))

    def inverse(self, x, y):
        dx, dy = x - self.fe, self.rho0 - (y - self.fn)
        rho = np.copysign(np.sqrt(dx * dx + dy * dy), self.n)
        tp = (rho / self.RF) ** (1.0 / self.n)
        chi = 2.0 * (_QUARTER_PI - np.arctan(tp))
        c1, c2, c3, c4 = self.ell.chi
        phi = (chi + c1 * np.sin(2.0 * chi) + c2 * np.sin(4.0 * chi)
               + c3 * np.sin(6.0 * chi) + c4 * np.sin(8.0 * chi))
        lam = np.arctan2(dx, dy) / self.n + self.lon0
        if self.datum is not None:
            lam, phi = self.datum.to_wgs84(lam, phi, self.ell)
        return (lam * RAD2DEG, phi * RAD2DEG)


class AlbersEA:
    """Albers Equal Area conic, 2 standard parallels (EPSG 9822;
    Snyder §14)."""

    def __init__(self, ell: Ellipsoid, lat1, lat2, lat0, lon0,
                 fe, fn, unit_m=1.0, datum: Helmert = None):
        self.ell, self.unit_m, self.datum = ell, unit_m, datum
        self.lon0 = lon0 * DEG2RAD
        p1, p2, p0 = (v * DEG2RAD for v in (lat1, lat2, lat0))
        m1, m2 = ell.m(p1), ell.m(p2)
        q1, q2, q0 = ell.q(p1), ell.q(p2), ell.q(p0)
        self.n = (m1 * m1 - m2 * m2) / (q2 - q1)
        self.C = m1 * m1 + self.n * q1
        self.AU = ell.a / unit_m
        self.rho0 = self.AU * math.sqrt(self.C - self.n * q0) / self.n
        self.qp = ell.q(0.5 * math.pi)
        self.fe, self.fn = fe, fn

    def forward(self, lon, lat):
        if self.datum is not None:
            lam, phi = self.datum.from_wgs84(
                lon * DEG2RAD, lat * DEG2RAD, self.ell)
        else:
            lam, phi = lon * DEG2RAD, lat * DEG2RAD
        e, e2 = self.ell.e, self.ell.e2
        s = np.sin(phi)
        q = (1.0 - e2) * (s / (1.0 - e2 * s * s)
                          - (1.0 / (2.0 * e))
                          * np.log((1.0 - e * s) / (1.0 + e * s)))
        rho = self.AU * np.sqrt(self.C - self.n * q) / self.n
        th = self.n * (lam - self.lon0)
        return (self.fe + rho * np.sin(th),
                self.fn + self.rho0 - rho * np.cos(th))

    def inverse(self, x, y):
        dx, dy = x - self.fe, self.rho0 - (y - self.fn)
        rho = np.sqrt(dx * dx + dy * dy)
        qv = (self.C - (rho * self.n / self.AU) ** 2) / self.n
        # |q| <= qp by construction of the authalic latitude: clamp
        # qv itself (not just sinβ) so a point at/beyond the pole
        # radius feeds the Newton loop a representable residual —
        # the step divides by cos(φ)~1e-16 at the pole and an
        # unclamped qv excess would kick φ far off the series seed
        qv = np.clip(qv, -self.qp, self.qp)
        sb = np.clip(qv / self.qp, -1.0, 1.0)
        pole = np.abs(sb) >= 1.0
        # series seed (~1e-7 rad) + Snyder 3-16 Newton refinement to
        # full double precision (4 fixed iters, deterministic)
        b = np.arcsin(sb)
        a1, a2, a3 = self.ell.auth
        phi = (b + a1 * np.sin(2.0 * b) + a2 * np.sin(4.0 * b)
               + a3 * np.sin(6.0 * b))
        e2, e = self.ell.e2, self.ell.e
        for _ in range(4):
            s = np.sin(phi)
            d = 1.0 - e2 * s * s
            phi = phi + (d * d / (2.0 * np.cos(phi))) * (
                qv / (1.0 - e2) - s / d
                + (1.0 / (2.0 * e))
                * np.log((1.0 - e * s) / (1.0 + e * s)))
        # pole lanes: authalic == geodetic exactly, skip the Newton
        # garbage (its ULP residual / cos(φ) kick)
        phi = np.where(pole, np.copysign(0.5 * np.pi, sb), phi)
        sgn = 1.0 if self.n >= 0.0 else -1.0
        th = np.arctan2(sgn * dx, sgn * dy)
        lam = th / self.n + self.lon0
        if self.datum is not None:
            lam, phi = self.datum.to_wgs84(lam, phi, self.ell)
        return (lam * RAD2DEG, phi * RAD2DEG)


class TMGeneric:
    """Transverse Mercator with arbitrary origin / scale / ellipsoid
    (EPSG 9807) — the Krüger α/β series of the UTM path, generalized:
    coefficients to n⁴ from the ellipsoid, latitude-of-origin handled
    by subtracting the precomputed rectifying northing of lat0."""

    def __init__(self, ell: Ellipsoid, lat0, lon0, k0,
                 fe, fn, unit_m=1.0, datum: Helmert = None):
        self.ell, self.unit_m, self.datum = ell, unit_m, datum
        self.lon0 = lon0 * DEG2RAD
        self.k0 = k0
        self.KA = k0 * ell.A / unit_m
        self.fe = fe
        # ξ at (lat0, lon0): η' = 0, ξ' = conformal latitude of lat0
        p0 = lat0 * DEG2RAD
        if p0 != 0.0:
            s0 = math.sin(p0)
            t0 = math.sinh(math.atanh(s0) - ell.e * math.atanh(ell.e * s0))
            xip0 = math.atan(t0)
            xi0 = xip0
            for j, aj in enumerate(ell.alpha, start=1):
                xi0 = xi0 + aj * math.sin(2 * j * xip0)
            self.fn = fn - self.KA * xi0
        else:
            self.fn = fn

    def forward(self, lon, lat):
        if self.datum is not None:
            lam_a, phi = self.datum.from_wgs84(
                lon * DEG2RAD, lat * DEG2RAD, self.ell)
        else:
            lam_a, phi = lon * DEG2RAD, lat * DEG2RAD
        ell = self.ell
        s = np.sin(phi)
        t = np.sinh(np.arctanh(s) - ell.e * np.arctanh(ell.e * s))
        lam = lam_a - self.lon0
        xip = np.arctan2(t, np.cos(lam))
        etap = np.arctanh(np.sin(lam) / np.sqrt(1.0 + t * t))
        xi, eta = xip, etap
        for j, aj in enumerate(ell.alpha, start=1):
            xi = xi + aj * np.sin(2 * j * xip) * np.cosh(2 * j * etap)
            eta = eta + aj * np.cos(2 * j * xip) * np.sinh(2 * j * etap)
        return (self.fe + self.KA * eta, self.fn + self.KA * xi)

    def inverse(self, x, y):
        ell = self.ell
        xi = (y - self.fn) / self.KA
        eta = (x - self.fe) / self.KA
        xip, etap = xi, eta
        for j, bj in enumerate(ell.beta, start=1):
            xip = xip - bj * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
            etap = etap - bj * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
        chi = np.arcsin(np.sin(xip) / np.cosh(etap))
        phi = chi
        for j, dj in enumerate(ell.delta, start=1):
            phi = phi + dj * np.sin(2 * j * chi)
        lam = self.lon0 + np.arctan2(np.sinh(etap), np.cos(xip))
        if self.datum is not None:
            lam, phi = self.datum.to_wgs84(lam, phi, ell)
        return (lam * RAD2DEG, phi * RAD2DEG)


#: WGS84 -> OSGB36 (EPSG:1314 reversed): the standard single-Helmert
#: approximation of the National Grid datum (±~5 m vs OSTN15 — the
#: documented accuracy of ANY 7-parameter OSGB shift).
_OSGB36 = Helmert(-446.448, 125.157, -542.060,
                  -0.1502, -0.2470, -0.8421, 20.4894)

#: EPSG code -> projection instance. NAD83/ETRS89 geographic datums
#: are WGS84-identical here (null transform, sub-meter — the
#: analytics convention); OSGB36 carries the Helmert shift.
CRS_REGISTRY = {
    # NAD83 / New York Long Island (US survey foot) — LCC 2SP
    2263: LCC2SP(GRS80, lat1=41.03333333333333, lat2=40.66666666666666,
                 lat0=40.16666666666666, lon0=-74.0,
                 fe=984250.0, fn=0.0, unit_m=FT_US),
    # NAD83 / New York Long Island (meters)
    32118: LCC2SP(GRS80, lat1=41.03333333333333, lat2=40.66666666666666,
                  lat0=40.16666666666666, lon0=-74.0,
                  fe=300000.0, fn=0.0),
    # RGF93 / Lambert-93 (France national CRS)
    2154: LCC2SP(GRS80, lat1=49.0, lat2=44.0, lat0=46.5, lon0=3.0,
                 fe=700000.0, fn=6600000.0),
    # NAD83 / Conus Albers (the standard US land-analytics CRS)
    5070: AlbersEA(GRS80, lat1=29.5, lat2=45.5, lat0=23.0, lon0=-96.0,
                   fe=0.0, fn=0.0),
    # NAD83 / UTM zone 17N (generic-TM path on GRS80)
    26917: TMGeneric(GRS80, lat0=0.0, lon0=-81.0, k0=0.9996,
                     fe=500000.0, fn=0.0),
    # OSGB36 / British National Grid (Airy 1830 + Helmert datum)
    27700: TMGeneric(AIRY1830, lat0=49.0, lon0=-2.0, k0=0.9996012717,
                     fe=400000.0, fn=-100000.0, datum=_OSGB36),
}


def vincenty_m(lon1: float, lat1: float, lon2: float, lat2: float,
               ell: Ellipsoid = None, iters: int = 8) -> float:
    """Ellipsoidal geodesic distance in meters (Vincenty 1975 inverse,
    WGS84 default) — the spheroid twin of :func:`haversine_m`
    (PostGIS ST_DistanceSpheroid / geography ST_Distance default;
    the sphere underestimates by up to ~0.5%).

    DETERMINISTIC fixed iteration count (no convergence test): the
    standard λ iteration, unrolled ``iters`` times, so a SQL oracle
    replays the chain term-for-term. 8 rounds converge to sub-mm for
    all but nearly-antipodal pairs; for those the fixed-round value is
    still a well-defined deterministic number (documented limit — the
    classical Vincenty inverse itself fails to converge there).
    Coincident points return exactly 0.0."""
    if ell is None:
        ell = WGS84
    f, a, b = ell.f, ell.a, ell.b
    ru1 = math.atan((1.0 - f) * math.tan(lat1 * DEG2RAD))
    ru2 = math.atan((1.0 - f) * math.tan(lat2 * DEG2RAD))
    su1, cu1 = math.sin(ru1), math.cos(ru1)
    su2, cu2 = math.sin(ru2), math.cos(ru2)
    big_l = (lon2 - lon1) * DEG2RAD
    lam = big_l
    sig = ssig = 0.0
    csig = cos2a = c2sm = 1.0
    for _ in range(iters):
        sl, cl = math.sin(lam), math.cos(lam)
        t1 = cu2 * sl
        t2 = cu1 * su2 - su1 * cu2 * cl
        ssig = math.sqrt(t1 * t1 + t2 * t2)
        csig = su1 * su2 + cu1 * cu2 * cl
        sig = math.atan2(ssig, csig)
        if ssig == 0.0:
            return 0.0  # coincident points
        sina = cu1 * cu2 * sl / ssig
        cos2a = 1.0 - sina * sina
        # both points on the equator: cos²α = 0, the c2σm term drops
        c2sm = (csig - 2.0 * su1 * su2 / cos2a) if cos2a != 0.0 else 0.0
        cc = f / 16.0 * cos2a * (4.0 + f * (4.0 - 3.0 * cos2a))
        lam = big_l + (1.0 - cc) * f * sina * (
            sig + cc * ssig * (c2sm + cc * csig
                               * (-1.0 + 2.0 * c2sm * c2sm)))
    usq = cos2a * (a * a - b * b) / (b * b)
    aa = 1.0 + usq / 16384.0 * (4096.0 + usq * (-768.0 + usq
                                * (320.0 - 175.0 * usq)))
    bb = usq / 1024.0 * (256.0 + usq * (-128.0 + usq
                         * (74.0 - 47.0 * usq)))
    dsig = bb * ssig * (c2sm + bb / 4.0 * (
        csig * (-1.0 + 2.0 * c2sm * c2sm)
        - bb / 6.0 * c2sm * (-3.0 + 4.0 * ssig * ssig)
        * (-3.0 + 4.0 * c2sm * c2sm)))
    return b * aa * (sig - dsig)


class LAEA:
    """Lambert Azimuthal Equal Area, oblique ellipsoidal aspect via
    the authalic sphere (EPSG method 9820; Snyder §24) — the EU-wide
    statistics projection (EPSG:3035 ETRS89-extended / LAEA Europe)."""

    def __init__(self, ell: Ellipsoid, lat0, lon0, fe, fn,
                 unit_m=1.0, datum: Helmert = None):
        self.ell, self.unit_m, self.datum = ell, unit_m, datum
        self.lon0 = lon0 * DEG2RAD
        self.qp = ell.q(0.5 * math.pi)
        self.Rq = (ell.a / unit_m) * math.sqrt(self.qp / 2.0)
        p0 = lat0 * DEG2RAD
        self.beta1 = math.asin(ell.q(p0) / self.qp)
        self.sb1 = math.sin(self.beta1)
        self.cb1 = math.cos(self.beta1)
        self.D = (ell.a / unit_m) * ell.m(p0) / (self.Rq * self.cb1)
        self.fe, self.fn = fe, fn

    def forward(self, lon, lat):
        if self.datum is not None:
            lam, phi = self.datum.from_wgs84(
                lon * DEG2RAD, lat * DEG2RAD, self.ell)
        else:
            lam, phi = lon * DEG2RAD, lat * DEG2RAD
        e, e2 = self.ell.e, self.ell.e2
        s = np.sin(phi)
        q = (1.0 - e2) * (s / (1.0 - e2 * s * s)
                          - (1.0 / (2.0 * e))
                          * np.log((1.0 - e * s) / (1.0 + e * s)))
        b = np.arcsin(q / self.qp)
        sb, cb = np.sin(b), np.cos(b)
        dl = lam - self.lon0
        bb = self.Rq * np.sqrt(
            2.0 / (1.0 + self.sb1 * sb + self.cb1 * cb * np.cos(dl)))
        return (self.fe + bb * self.D * cb * np.sin(dl),
                self.fn + (bb / self.D)
                * (self.cb1 * sb - self.sb1 * cb * np.cos(dl)))

    def inverse(self, x, y):
        xp, yp = x - self.fe, y - self.fn
        rho = np.hypot(xp / self.D, self.D * yp)
        ce = 2.0 * np.arcsin(rho / (2.0 * self.Rq))
        with np.errstate(all="ignore"):
            qv = self.qp * (np.cos(ce) * self.sb1
                            + self.D * yp * np.sin(ce) * self.cb1 / rho)
        # projection center (rho = 0): q = qp·sinβ1 and λ = λ0; φ
        # still goes through the shared series + Newton path below
        qv = np.where(rho == 0.0, self.qp * self.sb1, qv)
        # pole clamp on qv itself (the Albers discipline): keeps the
        # Newton residual representable where cos(φ) ~ 1e-16
        qv = np.clip(qv, -self.qp, self.qp)
        sb = np.clip(qv / self.qp, -1.0, 1.0)
        pole = np.abs(sb) >= 1.0
        bta = np.arcsin(sb)
        a1, a2, a3 = self.ell.auth
        phi = (bta + a1 * np.sin(2.0 * bta) + a2 * np.sin(4.0 * bta)
               + a3 * np.sin(6.0 * bta))
        e2, e = self.ell.e2, self.ell.e
        for _ in range(4):
            s = np.sin(phi)
            d = 1.0 - e2 * s * s
            phi = phi + (d * d / (2.0 * np.cos(phi))) * (
                qv / (1.0 - e2) - s / d
                + (1.0 / (2.0 * e))
                * np.log((1.0 - e * s) / (1.0 + e * s)))
        phi = np.where(pole, np.copysign(0.5 * np.pi, sb), phi)
        lam = self.lon0 + np.arctan2(
            xp * np.sin(ce),
            self.D * rho * self.cb1 * np.cos(ce)
            - self.D * self.D * yp * self.sb1 * np.sin(ce))
        lam = np.where(rho == 0.0, self.lon0, lam)
        if self.datum is not None:
            lam, phi = self.datum.to_wgs84(lam, phi, self.ell)
        return (lam * RAD2DEG, phi * RAD2DEG)


#: ETRS89-extended / LAEA Europe — the EU statistics CRS
CRS_REGISTRY[3035] = LAEA(GRS80, lat0=52.0, lon0=10.0,
                          fe=4321000.0, fn=3210000.0)


def _check_latitude(lat, bad, domain: str) -> None:
    """ValueError naming the first latitude flagged in ``bad``."""
    if np.any(bad):
        raise ValueError(f"latitude {float(np.asarray(lat)[bad][0])} "
                         f"out of {domain}")


class WebMercator:
    """Spherical web mercator (EPSG:3857) on the R_MAJOR sphere."""

    def forward(self, lon, lat):
        _check_latitude(lat, np.abs(lat) >= 90.0, "(-90, 90) for EPSG:3857")
        x = R_MAJOR * (lon * DEG2RAD)
        y = R_MAJOR * np.log(np.tan(PI_4 + (lat * DEG2RAD) * 0.5))
        return (x, y)

    def inverse(self, x, y):
        lon = (x / R_MAJOR) * RAD2DEG
        lat = (2.0 * np.arctan(np.exp(y / R_MAJOR)) - 2.0 * PI_4) * RAD2DEG
        return (lon, lat)


#: WGS84 with the hard-coded n³ UTM literals in place of the computed
#: n⁴ series: TMGeneric on it is the UTM chain term for term
_UTM_WGS84 = copy.copy(WGS84)
_UTM_WGS84.A, _UTM_WGS84.e = A_TM, TT_TM
_UTM_WGS84.alpha, _UTM_WGS84.beta, _UTM_WGS84.delta = (
    ALPHA_TM, BETA_TM, DELTA_TM)


def _projection(srid: int):
    """The projection object (``forward`` from lon/lat, ``inverse``
    back) of a projected SRID, or None when it is not supported."""
    if srid in CRS_REGISTRY:
        return CRS_REGISTRY[srid]
    if srid == SRID_MERCATOR:
        return WebMercator()
    zone = utm_zone(srid)
    if zone is None:
        return None
    z, north = zone
    return TMGeneric(_UTM_WGS84, lat0=0.0, lon0=z * 6 - 183, k0=K0_UTM,
                     fe=FE_UTM, fn=0.0 if north else FN_SOUTH)


def _identity(x, y):
    return (x, y)


def transformer(src, dst):
    """The one array function ``f(x, y) -> (x, y)`` taking coordinates
    in SRID ``src`` to SRID ``dst``: geographic aliases route as 4326,
    and a projected -> projected pair composes through the 4326 hub
    (inverse, then forward). ``src`` None is PostGIS's 'cannot
    transform geometry with unknown SRID'; a pair with an unsupported
    side raises too."""
    if src is None:
        raise ValueError("ST_Transform: source SRID unknown "
                         "(geometry has none and no from_srid given)")
    src, dst = int(src), int(dst)
    src = SRID_LONLAT if src in GEOGRAPHIC_ALIASES else src
    dst = SRID_LONLAT if dst in GEOGRAPHIC_ALIASES else dst
    if src == dst:
        return _identity
    inv = None if src == SRID_LONLAT else _projection(src)
    fwd = None if dst == SRID_LONLAT else _projection(dst)
    if ((inv is None and src != SRID_LONLAT)
            or (fwd is None and dst != SRID_LONLAT)):
        raise ValueError(
            f"ST_Transform: unsupported SRID pair {src} -> {dst} "
            f"(supported: {SRID_LONLAT} <-> {SRID_MERCATOR}, "
            f"{SRID_LONLAT} <-> UTM 326xx/327xx, and the "
            f"registered CRSs {sorted(CRS_REGISTRY)})")

    def f(x, y):
        # NaN lanes (POINT EMPTY in a point batch) and pole edges
        # produce NaN/inf quietly, as the formulas give them
        with np.errstate(all="ignore"):
            if inv is not None:
                x, y = inv.inverse(x, y)
            if fwd is None:
                return (x, y)
            _check_latitude(y, np.abs(y) > 90.0, f"[-90, 90] for EPSG:{dst}")
            return fwd.forward(x, y)
    return f


def map_vertices(geoms: list, f) -> list:
    """``geoms`` with every vertex mapped by the array function ``f``
    in ONE call over their concatenated vertices (``vertices()`` and
    ``map_coords`` walk coordinates in the same order)."""
    xy = np.array([c for g in geoms for c in g.vertices()],
                  dtype=float).reshape(-1, 2)
    x, y = f(xy[:, 0], xy[:, 1])
    it = zip(x.tolist(), y.tolist())
    return [g.map_coords(lambda c: next(it)) for g in geoms]


def transform_geometry(g: Geometry, to_srid: int,
                       from_srid: int = None) -> Geometry:
    """PostGIS-style ST_Transform of one geometry through
    :func:`transformer`. ``from_srid`` falls back to the geometry's
    own SRID; the result is stamped with ``to_srid``."""
    f = transformer(from_srid if from_srid is not None else g.srid,
                    to_srid)
    return map_vertices([g], f)[0].with_srid(int(to_srid))


# ------------------------------------------------------------ PROJJSON

#: Published EPSG identification for every CRS_REGISTRY code (names,
#: base geographic CRS, conversion method, parameters — all public
#: EPSG registry data), used to EMIT PROJJSON into the GeoParquet
#: sink's ``geo`` footer. The numeric parameters intentionally repeat
#: the CRS_REGISTRY constructor values; test_proj_crs pins the two in
#: agreement so they cannot drift apart.
_GRS80_DATUM = ("North American Datum 1983", "GRS 1980",
                6378137.0, 298.257222101)
CRS_META = {
    2263: {"name": "NAD83 / New York Long Island (ftUS)",
           "base": (4269, "NAD83", _GRS80_DATUM),
           "method": (9802, "Lambert Conic Conformal (2SP)"),
           "params": [
               (8821, "Latitude of false origin", 40.16666666666666),
               (8822, "Longitude of false origin", -74.0),
               (8823, "Latitude of 1st standard parallel",
                41.03333333333333),
               (8824, "Latitude of 2nd standard parallel",
                40.66666666666666),
               (8826, "Easting at false origin", 984250.0),
               (8827, "Northing at false origin", 0.0)],
           "unit": ("US survey foot", FT_US)},
    32118: {"name": "NAD83 / New York Long Island",
            "base": (4269, "NAD83", _GRS80_DATUM),
            "method": (9802, "Lambert Conic Conformal (2SP)"),
            "params": [
                (8821, "Latitude of false origin", 40.16666666666666),
                (8822, "Longitude of false origin", -74.0),
                (8823, "Latitude of 1st standard parallel",
                 41.03333333333333),
                (8824, "Latitude of 2nd standard parallel",
                 40.66666666666666),
                (8826, "Easting at false origin", 300000.0),
                (8827, "Northing at false origin", 0.0)],
            "unit": ("metre", 1.0)},
    2154: {"name": "RGF93 v1 / Lambert-93",
           "base": (4171, "RGF93 v1",
                    ("Reseau Geodesique Francais 1993 v1", "GRS 1980",
                     6378137.0, 298.257222101)),
           "method": (9802, "Lambert Conic Conformal (2SP)"),
           "params": [
               (8821, "Latitude of false origin", 46.5),
               (8822, "Longitude of false origin", 3.0),
               (8823, "Latitude of 1st standard parallel", 49.0),
               (8824, "Latitude of 2nd standard parallel", 44.0),
               (8826, "Easting at false origin", 700000.0),
               (8827, "Northing at false origin", 6600000.0)],
           "unit": ("metre", 1.0)},
    5070: {"name": "NAD83 / Conus Albers",
           "base": (4269, "NAD83", _GRS80_DATUM),
           "method": (9822, "Albers Equal Area"),
           "params": [
               (8821, "Latitude of false origin", 23.0),
               (8822, "Longitude of false origin", -96.0),
               (8823, "Latitude of 1st standard parallel", 29.5),
               (8824, "Latitude of 2nd standard parallel", 45.5),
               (8826, "Easting at false origin", 0.0),
               (8827, "Northing at false origin", 0.0)],
           "unit": ("metre", 1.0)},
    26917: {"name": "NAD83 / UTM zone 17N",
            "base": (4269, "NAD83", _GRS80_DATUM),
            "method": (9807, "Transverse Mercator"),
            "params": [
                (8801, "Latitude of natural origin", 0.0),
                (8802, "Longitude of natural origin", -81.0),
                (8805, "Scale factor at natural origin", 0.9996),
                (8806, "False easting", 500000.0),
                (8807, "False northing", 0.0)],
            "unit": ("metre", 1.0)},
    27700: {"name": "OSGB36 / British National Grid",
            "base": (4277, "OSGB36",
                     ("Ordnance Survey of Great Britain 1936",
                      "Airy 1830", 6377563.396, 299.3249646)),
            "method": (9807, "Transverse Mercator"),
            "params": [
                (8801, "Latitude of natural origin", 49.0),
                (8802, "Longitude of natural origin", -2.0),
                (8805, "Scale factor at natural origin", 0.9996012717),
                (8806, "False easting", 400000.0),
                (8807, "False northing", -100000.0)],
            "unit": ("metre", 1.0)},
    3035: {"name": "ETRS89-extended / LAEA Europe",
           "base": (4258, "ETRS89",
                    ("European Terrestrial Reference System 1989",
                     "GRS 1980", 6378137.0, 298.257222101)),
           "method": (9820, "Lambert Azimuthal Equal Area"),
           "params": [
               (8801, "Latitude of natural origin", 52.0),
               (8802, "Longitude of natural origin", 10.0),
               (8806, "False easting", 4321000.0),
               (8807, "False northing", 3210000.0)],
           "unit": ("metre", 1.0)},
}

#: Geographic CRSs emittable as PROJJSON (lon/lat data written with an
#: explicit non-default stamp; 4326 itself is the spec default and the
#: sink omits ``crs`` for it).
_GEOGRAPHIC_META = {
    4326: ("WGS 84", ("World Geodetic System 1984", "WGS 84",
                      6378137.0, 298.257223563)),
    4269: ("NAD83", _GRS80_DATUM),
    4258: ("ETRS89", ("European Terrestrial Reference System 1989",
                      "GRS 1980", 6378137.0, 298.257222101)),
}


def _geographic_crs(code: int, name: str, datum) -> dict:
    dname, ename, a, invf = datum
    return {
        "type": "GeographicCRS", "name": name,
        "datum": {"type": "GeodeticReferenceFrame", "name": dname,
                  "ellipsoid": {"name": ename, "semi_major_axis": a,
                                "inverse_flattening": invf}},
        "coordinate_system": {
            "subtype": "ellipsoidal",
            "axis": [{"name": "Geodetic latitude", "abbreviation": "Lat",
                      "direction": "north", "unit": "degree"},
                     {"name": "Geodetic longitude", "abbreviation": "Lon",
                      "direction": "east", "unit": "degree"}]},
        "id": {"authority": "EPSG", "code": code},
    }


def projjson(code: int) -> dict:
    """PROJJSON document for a registered EPSG code — the GeoParquet
    ``columns.<geom>.crs`` payload (spec: CRS as PROJJSON, default
    OGC:CRS84 when absent). Supports every CRS_REGISTRY code plus the
    geographic bases; unknown codes raise a ValueError naming the
    supported set (same contract as ST_Transform)."""
    code = int(code)
    if code in _GEOGRAPHIC_META:
        name, datum = _GEOGRAPHIC_META[code]
        return _geographic_crs(code, name, datum)
    m = CRS_META.get(code)
    if m is None:
        raise ValueError(
            f"projjson: EPSG:{code} is not a registered CRS "
            f"(supported: {sorted(CRS_META)} projected, "
            f"{sorted(_GEOGRAPHIC_META)} geographic)")
    bcode, bname, bdatum = m["base"]
    uname, ufactor = m["unit"]
    unit = ("metre" if uname == "metre" else
            {"type": "LinearUnit", "name": uname,
             "conversion_factor": ufactor})
    return {
        "type": "ProjectedCRS", "name": m["name"],
        "base_crs": _geographic_crs(bcode, bname, bdatum),
        "conversion": {
            "name": m["name"].split("/ ")[-1],
            "method": {"name": m["method"][1],
                       "id": {"authority": "EPSG",
                              "code": m["method"][0]}},
            "parameters": [
                {"name": pname, "value": val,
                 "unit": ("degree" if pcode in
                          (8801, 8802, 8821, 8822, 8823, 8824)
                          else "unity" if pcode == 8805 else unit),
                 "id": {"authority": "EPSG", "code": pcode}}
                for pcode, pname, val in m["params"]]},
        "coordinate_system": {
            "subtype": "Cartesian",
            "axis": [{"name": "Easting", "abbreviation": "E",
                      "direction": "east", "unit": unit},
                     {"name": "Northing", "abbreviation": "N",
                      "direction": "north", "unit": unit}]},
        "id": {"authority": "EPSG", "code": code},
    }


def vincenty_direct(lon: float, lat: float, dist_m: float,
                    azimuth: float, ell: Ellipsoid = None,
                    iters: int = 8) -> tuple:
    """Direct geodesic problem (Vincenty 1975): the destination point
    ``dist_m`` meters along the geodesic with initial bearing
    ``azimuth`` (radians clockwise from north) — the WGS84-spheroid
    twin of :func:`sphere_project` (geography ST_Project). Fixed
    ``iters`` σ-iterations (deterministic, same contract as
    :func:`vincenty_m`). Returns (lon, lat) degrees."""
    if ell is None:
        ell = WGS84
    f, a, b = ell.f, ell.a, ell.b
    ru1 = math.atan((1.0 - f) * math.tan(lat * DEG2RAD))
    su1, cu1 = math.sin(ru1), math.cos(ru1)
    sa1, ca1 = math.sin(azimuth), math.cos(azimuth)
    sig1 = math.atan2(math.tan(ru1), ca1)
    sina = cu1 * sa1
    cos2a = 1.0 - sina * sina
    usq = cos2a * (a * a - b * b) / (b * b)
    aa = 1.0 + usq / 16384.0 * (4096.0 + usq * (-768.0 + usq
                                * (320.0 - 175.0 * usq)))
    bb = usq / 1024.0 * (256.0 + usq * (-128.0 + usq
                         * (74.0 - 47.0 * usq)))
    sig0 = dist_m / (b * aa)
    sig = sig0
    c2sm = 1.0
    for _ in range(iters):
        c2sm = math.cos(2.0 * sig1 + sig)
        ssig, csig = math.sin(sig), math.cos(sig)
        dsig = bb * ssig * (c2sm + bb / 4.0 * (
            csig * (-1.0 + 2.0 * c2sm * c2sm)
            - bb / 6.0 * c2sm * (-3.0 + 4.0 * ssig * ssig)
            * (-3.0 + 4.0 * c2sm * c2sm)))
        sig = sig0 + dsig
    ssig, csig = math.sin(sig), math.cos(sig)
    phi2 = math.atan2(
        su1 * csig + cu1 * ssig * ca1,
        (1.0 - f) * math.sqrt(
            sina * sina + (su1 * ssig - cu1 * csig * ca1) ** 2))
    lam = math.atan2(ssig * sa1, cu1 * csig - su1 * ssig * ca1)
    cc = f / 16.0 * cos2a * (4.0 + f * (4.0 - 3.0 * cos2a))
    big_l = lam - (1.0 - cc) * f * sina * (
        sig + cc * ssig * (c2sm + cc * csig
                           * (-1.0 + 2.0 * c2sm * c2sm)))
    lon2 = lon + big_l * RAD2DEG
    if lon2 > 180.0:
        lon2 -= 360.0
    elif lon2 < -180.0:
        lon2 += 360.0
    return (lon2, phi2 * RAD2DEG)


#: ESRI canonical GEOGCS names per base EPSG code (.prj WKT1 uses
#: ESRI's underscored vocabulary, not the EPSG display names)
_ESRI_GCS = {
    4326: "GCS_WGS_1984", 4269: "GCS_North_American_1983",
    4258: "GCS_ETRS_1989", 4171: "GCS_RGF_1993",
    4277: "GCS_OSGB_1936",
}
_ESRI_METHOD = {
    9802: "Lambert_Conformal_Conic", 9807: "Transverse_Mercator",
    9820: "Lambert_Azimuthal_Equal_Area", 9822: "Albers",
}
_ESRI_PARAM = {
    8801: "Latitude_Of_Origin", 8802: "Central_Meridian",
    8805: "Scale_Factor", 8806: "False_Easting",
    8807: "False_Northing", 8821: "Latitude_Of_Origin",
    8822: "Central_Meridian", 8823: "Standard_Parallel_1",
    8824: "Standard_Parallel_2", 8826: "False_Easting",
    8827: "False_Northing",
}
#: canonical ESRI parameter emission order
_ESRI_ORDER = ("False_Easting", "False_Northing", "Central_Meridian",
               "Standard_Parallel_1", "Standard_Parallel_2",
               "Scale_Factor", "Latitude_Of_Origin")


def _esri_geogcs(code: int, datum) -> str:
    _, ename, a, invf = datum
    gcs = _ESRI_GCS.get(code, f"GCS_EPSG_{code}")
    d = "D_" + gcs[4:]
    e = ename.replace(" ", "_")
    return (f'GEOGCS["{gcs}",DATUM["{d}",SPHEROID["{e}",{a!r},'
            f'{invf!r}]],PRIMEM["Greenwich",0.0],'
            f'UNIT["Degree",0.0174532925199433]]')


def esri_wkt(code: int) -> str:
    """ESRI WKT1 (.prj sidecar text) for a registered EPSG code — the
    third emission of the same registry entry (numpy kernel, PROJJSON,
    now .prj), so a shapefile written by the engine opens in GDAL/
    ArcGIS with its CRS attached. Geographic codes emit the bare
    GEOGCS; projected codes a PROJCS with ESRI's method/parameter
    vocabulary. Unknown codes raise the registry's standard
    ValueError (via :func:`projjson`'s contract)."""
    code = int(code)
    if code in _GEOGRAPHIC_META:
        _, datum = _GEOGRAPHIC_META[code]
        return _esri_geogcs(code, datum)
    m = CRS_META.get(code)
    if m is None:
        raise ValueError(
            f"esri_wkt: EPSG:{code} is not a registered CRS "
            f"(supported: {sorted(CRS_META)} projected, "
            f"{sorted(_GEOGRAPHIC_META)} geographic)")
    bcode, _, bdatum = m["base"]
    params = {}
    for pcode, _, val in m["params"]:
        params[_ESRI_PARAM[pcode]] = val
    body = ",".join(
        f'PARAMETER["{n}",{params[n]!r}]'
        for n in _ESRI_ORDER if n in params)
    uname, ufactor = m["unit"]
    un = ("Meter" if uname == "metre"
          else uname.replace(" ", "_").title())
    name = m["name"].replace(" / ", "_").replace(" ", "_")
    return (f'PROJCS["{name}",{_esri_geogcs(bcode, bdatum)},'
            f'PROJECTION["{_ESRI_METHOD[m["method"][0]]}"],'
            f'{body},UNIT["{un}",{ufactor!r}]]')


def srid_for_esri_wkt(wkt: str):
    """Inverse lookup for .prj discovery: the registered EPSG code
    whose :func:`esri_wkt` emission equals ``wkt`` modulo whitespace,
    or None. Exact-match only — the engine stamps what it can prove,
    and foreign .prj text that matches the canonical emission of a
    registered code is the same proof."""
    norm = "".join(wkt.split())
    for code in list(_GEOGRAPHIC_META) + list(CRS_META):
        if "".join(esri_wkt(code).split()) == norm:
            return code
    return None
