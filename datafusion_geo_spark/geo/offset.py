"""Offset-curve buffering: ST_Buffer over lines and polygons.

The reference buffers any geometry through GEOS
(/root/reference/src/function/buffer.rs:86-104). This module provides the
same capability dependency-free, via winding-number offsetting (the
approach of Chen & McMains, "Polygon Offsetting by Computing Winding
Numbers", and of GEOS's OffsetCurveBuilder):

1. **Raw offset curve** — walk the path and emit the offset boundary at
   distance ``w``: straight offset edges per segment plus joint
   connectors. Dilation uses a round arc at EVERY joint (``quadsegs``
   segments per quarter circle, the GEOS round-join convention — the arc
   at a reflex joint is the exact boundary of the capsule union there);
   erosion uses arcs only at reflex joints and direct chords at convex
   joints (eroded corners are sharp). Sharp features make the raw curve
   self-intersect.
2. **Positive-winding resolution** — split all curve segments at mutual
   intersections, keep sub-segments whose winding number is ``>= 1`` on
   exactly one side (the Chen–McMains rule: inverted lobes of an
   over-shrunk or pinched curve get non-positive winding and vanish),
   stitch survivors into rings, classify shells (CCW) vs holes (CW).
3. **Composition** — a polygon buffer = dilated shell minus eroded
   holes; a negative buffer = eroded shell minus dilated holes; a path
   closing exactly on its start = the polygon whose shell and hole are
   both that loop; a multi-part buffer = the union of per-part clean
   results (any-part-nonzero rule). Erosion (``_erode``) may split or
   empty a ring's region: past the inradius the positive-winding rule
   alone keeps faces of inverted loops, so a resolved face survives
   only if its interior point is inside the ring and at least the
   arc-chord depth ``w·cos(π/(4·quadsegs))`` from it.

Stage 2 is skipped when the raw output is a single convex ring (convex ⇒
simple), which covers the high-volume fixture case (capsules of straight
linestrings) without the quadratic intersection pass.

Vertex layout is deterministic (arcs step uniformly between exact start
and end angles), so closed-form oracles can reproduce vertex counts,
bounding boxes, and shoelace areas analytically.
"""

from __future__ import annotations

import math
from typing import List, Optional, Sequence, Tuple

from .geom import Coord, Geometry, dist, ring_area2

TAU = 2.0 * math.pi
_EPS = 1e-9


# ------------------------------------------------------------ raw offsets

def _dedupe(cs: Sequence[Coord], tol: float = _EPS) -> List[Coord]:
    """Drop consecutive vertices closer than ``tol``. Offset paths pass a
    WIDTH-RELATIVE tolerance (w·1e-3): a segment a thousandth of the
    buffer width moves the boundary less than the quadsegs arc error,
    but its joint arcs degenerate the arrangement's face classification
    (fuzz-found: a 1.2e-07-long first segment emptied the buffer). GEOS
    likewise simplifies by a fraction of the buffer distance first."""
    out: List[Coord] = []
    for c in cs:
        if not out or dist(c, out[-1]) > tol:
            out.append(c)
    return out


# near-antiparallel joint snap threshold (radians). A joint whose turn
# is within this of ±π is a doubling-back spike; the tiny lateral
# deviation is numeric noise relative to the buffer's own arc
# approximation, and leaving it produces offset-curve self-intersections
# so close together that the planar arrangement's face classification
# degenerates (fuzz-found: LINESTRING(0 0,1 0,0 -1e-05) buffered to an
# EMPTY polygon while ±1e-4 deviations and the exact double-back were
# fine). GEOS applies the same class of snapping before buffering.
_SPIKE_EPS = 1e-4


def _snap_spikes(cs: List[Coord]) -> List[Coord]:
    """Make near-antiparallel joints EXACTLY antiparallel: the outgoing
    segment keeps its length but leaves along the reversed incoming
    direction. Displacement is bounded by len·_SPIKE_EPS — far below the
    quadsegs arc-approximation error."""
    if len(cs) < 3:
        return cs
    out = [cs[0], cs[1]]
    for p in cs[2:]:
        a, b = out[-2], out[-1]
        th1 = math.atan2(b[1] - a[1], b[0] - a[0])
        th2 = math.atan2(p[1] - b[1], p[0] - b[0])
        d = th2 - th1
        while d > math.pi:
            d -= TAU
        while d <= -math.pi:
            d += TAU
        if abs(abs(d) - math.pi) < _SPIKE_EPS:
            seg = math.hypot(p[0] - b[0], p[1] - b[1])
            p = (b[0] - seg * math.cos(th1), b[1] - seg * math.sin(th1))
        out.append(p)
    return out


def _is_degenerate(cs: List[Coord], tol: float) -> bool:
    """True when the path carries a feature the raw offset arrangement
    can't classify robustly: a sub-tolerance segment, a near-antiparallel
    (doubling-back) joint, or a start/end gap below tolerance. Only such
    paths go through the snapping pipeline — everything else keeps its
    exact oracle-pinned offset layout."""
    if len(cs) < 2:
        return False
    for i in range(len(cs) - 1):
        if dist(cs[i], cs[i + 1]) <= tol:
            return True
    if len(cs) >= 3:
        if cs[0] != cs[-1] and dist(cs[0], cs[-1]) <= tol:
            return True
        _, turns = _turns(cs, closed=False)
        if any(abs(abs(t) - math.pi) < _SPIKE_EPS for t in turns):
            return True
    return False


def _snap_revisits(cs: List[Coord], tol: float) -> List[Coord]:
    """Snap every vertex lying within ``tol`` of an EARLIER vertex onto
    it, then drop repeated back-and-forth traversals (…A,B,A,B → …A,B:
    the same segment, so the same buffer). A revisit gap below ``tol``
    creates geometric features SMALLER than the arrangement's
    side-classification probe offset (~1e-6), which misclassifies every
    boundary piece, and a segment traversed three times leaves
    coincident offset pieces the arrangement double-counts (fuzz-found:
    a triangle path closing to within 2.4e-07 of its start emptied the
    buffer; LINESTRING(0 0,1 0,5.96e-08 0,1 0,0 0) covered none of its
    vertices at twice the capsule's area). Earlier vertices are found
    through a ``tol``-sized grid, so the pass stays linear."""
    grid: dict = {}
    out: List[Coord] = []
    for i, p in enumerate(cs):
        cx, cy = math.floor(p[0] / tol), math.floor(p[1] / tol)
        near = [(j, v) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
                for j, v in grid.get((cx + dx, cy + dy), ())
                if dist(v, p) <= tol]
        if near:
            p = min(near)[1]
        else:
            grid.setdefault((cx, cy), []).append((i, p))
        if out and p == out[-1]:
            continue
        if len(out) >= 3 and p == out[-2] and out[-1] == out[-3]:
            out.pop()
            continue
        out.append(p)
    return out


def _drop_collinear(cs: List[Coord], tol: float) -> List[Coord]:
    """Remove interior vertices lying within ``tol`` of the segment
    between their neighbors (and projecting BETWEEN them — spike apexes
    are kept). A run of near-collinear vertices contributes nothing
    visible at tol ≪ w but splits the offset side into multiple
    exactly-coincident collinear pieces, whose arrangement degeneracy is
    rotation-invariant (fuzz-found: an up-leg doubling back over TWO
    collinear down-segments emptied the buffer even under the
    perturbation retry)."""
    if len(cs) < 3:
        return cs
    out = [cs[0]]
    for i in range(1, len(cs) - 1):
        a, b, c = out[-1], cs[i], cs[i + 1]
        acx, acy = c[0] - a[0], c[1] - a[1]
        abx, aby = b[0] - a[0], b[1] - a[1]
        den = acx * acx + acy * acy
        if den > 0:
            t = (abx * acx + aby * acy) / den
            perp = abs(abx * acy - aby * acx) / math.sqrt(den)
            if 0.0 <= t <= 1.0 and perp <= tol:
                continue  # b adds nothing: drop it
        out.append(b)
    out.append(cs[-1])
    return out


def _close_ring(cs: List[Coord]) -> List[Coord]:
    """Close an offset loop with an EXACT duplicate of its first point,
    dropping a float-noise near-duplicate tail first (the final arc's end
    angle differs from the start angle by 2π, so its point may or may not
    land bitwise-equal to the start — vertex count must not depend on
    that)."""
    while len(cs) > 1 and dist(cs[0], cs[-1]) <= _EPS:
        cs = cs[:-1]
    cs.append(cs[0])
    return cs


def _arc(center: Coord, r: float, a0: float, sweep: float,
         quadsegs: int) -> List[Coord]:
    """Points along the circle of radius ``r`` from angle ``a0`` through a
    signed ``sweep`` (positive = CCW), EXCLUDING the start point and
    INCLUDING the exact end point. Steps are at most pi/(2*quadsegs)."""
    if abs(sweep) < 1e-12:
        return []
    step = math.pi / (2.0 * max(1, int(quadsegs)))
    n = max(1, math.ceil(abs(sweep) / step - 1e-9))
    cx, cy = center
    return [(cx + r * math.cos(a0 + sweep * k / n),
             cy + r * math.sin(a0 + sweep * k / n)) for k in range(1, n + 1)]


def _turns(cs: Sequence[Coord], closed: bool) -> Tuple[List[float], List[float]]:
    """Per-segment direction angles and per-joint signed turn angles.

    For an open path of n segments there are n-1 interior joints; for a
    closed path (without the repeated closing coordinate) there are n
    joints, joint j sitting at vertex ``cs[(j+1) % n]``."""
    pts = list(cs)
    if closed:
        pts = pts + [pts[0]]
    th = [math.atan2(pts[i + 1][1] - pts[i][1], pts[i + 1][0] - pts[i][0])
          for i in range(len(pts) - 1)]
    nseg = len(th)
    njoint = nseg if closed else nseg - 1
    turns = []
    for j in range(njoint):
        d = th[(j + 1) % nseg] - th[j]
        while d > math.pi:
            d -= TAU
        while d <= -math.pi:
            d += TAU
        turns.append(d)
    return th, turns


def _clean_path(coords: Sequence[Coord], w: float) -> List[Coord]:
    """``coords`` without consecutive duplicates; a path carrying a
    degenerate feature (``_is_degenerate``) also goes through the
    snapping pipeline."""
    cs = _dedupe(coords)
    if _is_degenerate(cs, max(_EPS, abs(w) * 1e-3)):
        # robustness pipeline for pathological paths ONLY — well-formed
        # inputs keep the exact vertex layout the oracles pin (e.g. an
        # exactly-collinear interior vertex contributes two offset
        # points; dropping it unconditionally changed pinned counts)
        tol = max(_EPS, abs(w) * 1e-3)
        cs = _snap_spikes(_drop_collinear(
            _snap_revisits(_dedupe(cs, tol=tol), tol), tol))
    return cs


def offset_path(coords: Sequence[Coord], w: float,
                quadsegs: int) -> List[List[List[Coord]]]:
    """Clean polygons of a path's dilation. A simple path that ends
    exactly where it starts, with three or more segments and no
    doubling-back joint, has no caps: it is the polygon whose shell and
    hole are both that loop (:func:`_buffer_polygon` — the loop's
    region dilated, minus the region eroded by ``w``, which is empty
    once ``w`` passes the inradius). Capping it instead puts two
    half-circle caps on the same center whose arcs are rotated copies
    of each other by the closing turn, and a near-zero rotation makes
    near-coincident arc chords the arrangement cannot stitch
    (fuzz-found: LINESTRING(50 1e-05,0 0,50 50,50 1e-05) buffered to
    EMPTY, and the jitter retries are snapped back onto the same closed
    path). Any other path, a self-crossing closed one included (it
    bounds no region), is one capped ring (``offset_open_ring``)
    resolved under the positive-winding rule."""
    from .validity import _line_simple_violation
    cs = _clean_path(coords, w)
    if (len(cs) >= 4 and cs[0] == cs[-1]
            and all(abs(abs(t) - math.pi) >= _SPIKE_EPS
                    for t in _turns(cs[:-1], closed=True)[1])
            and _line_simple_violation(cs) is None):
        return _buffer_polygon([cs, cs], w, quadsegs)
    return resolve([[_open_offset(cs, w, quadsegs)]], ["pos"])


def offset_open_ring(coords: Sequence[Coord], w: float,
                     quadsegs: int) -> List[Coord]:
    """Raw offset curve of an OPEN polyline (dilation): right side
    forward, round end cap, left side backward, round start cap; round
    arc at every interior joint. Overall CCW; returns a closed ring."""
    return _open_offset(_clean_path(coords, w), w, quadsegs)


def _open_offset(cs: List[Coord], w: float, quadsegs: int) -> List[Coord]:
    """``offset_open_ring`` of an already cleaned path."""
    if len(cs) == 1:  # degenerate: pure disc
        x, y = cs[0]
        n = 4 * max(1, int(quadsegs))
        ring = [(x + w * math.cos(TAU * k / n), y + w * math.sin(TAU * k / n))
                for k in range(n)]
        return ring + [ring[0]]
    th, turns = _turns(cs, closed=False)
    nseg = len(th)

    def off(p: Coord, ang: float) -> Coord:
        return (p[0] + w * math.cos(ang), p[1] + w * math.sin(ang))

    pts: List[Coord] = []
    # right side forward (right normal rho_i = th_i - pi/2)
    pts.append(off(cs[0], th[0] - math.pi / 2.0))
    for i in range(nseg):
        rho = th[i] - math.pi / 2.0
        pts.append(off(cs[i + 1], rho))
        if i < nseg - 1:
            pts.extend(_arc(cs[i + 1], w, rho, turns[i], quadsegs))
    # end cap: half circle CCW from rho_last to lambda_last
    pts.extend(_arc(cs[-1], w, th[-1] - math.pi / 2.0, math.pi, quadsegs))
    # left side backward (left normal lambda_i = th_i + pi/2)
    for i in range(nseg - 1, -1, -1):
        lam = th[i] + math.pi / 2.0
        pts.append(off(cs[i], lam))
        if i > 0:
            # traveling backward the joint sweep is the negated turn
            pts.extend(_arc(cs[i], w, lam, -turns[i - 1], quadsegs))
    # start cap: half circle CCW from lambda_0 back to rho_0
    pts.extend(_arc(cs[0], w, th[0] + math.pi / 2.0, math.pi, quadsegs))
    return _close_ring(_dedupe(pts))


def ring_offset_curve(ring: Sequence[Coord], w: float, quadsegs: int,
                      side: str) -> List[Coord]:
    """Raw offset curve of a CLOSED ring (normalized to CCW).

    ``side='out'`` — dilation curve: right (outward) normals, round arc
    at every joint. ``{wn >= 1}`` of this curve is the ring's region
    grown by ``w``.

    ``side='in'`` — erosion curve: left (inward) normals, arc only at
    reflex joints (negative turn), direct chord at convex joints (eroded
    corners are sharp; the overshoot lobes cancel under the positive
    winding rule — over-erosion yields an empty or partial result).
    ``{wn >= 1}`` is the region shrunk by ``w``."""
    cs = _dedupe(ring)
    if len(cs) > 1 and dist(cs[0], cs[-1]) <= _EPS:
        cs = cs[:-1]
    if len(cs) < 3:
        return offset_open_ring(cs, w, quadsegs) if side == "out" else []
    if ring_area2(cs + [cs[0]]) < 0:
        cs = [cs[0]] + cs[1:][::-1]
    return _loop_offset(cs, w, quadsegs, side)


def _loop_offset(cs: List[Coord], w: float, quadsegs: int,
                 side: str) -> List[Coord]:
    """Raw offset curve of the closed loop ``cs`` (no repeated closing
    vertex) in its given direction: ``'out'`` offsets along the right
    normals with a round arc at every joint, ``'in'`` along the left
    normals with arcs at right turns only (see ``ring_offset_curve``)."""
    th, turns = _turns(cs, closed=True)
    nseg = len(th)
    nshift = -math.pi / 2.0 if side == "out" else math.pi / 2.0

    def off(p: Coord, ang: float) -> Coord:
        return (p[0] + w * math.cos(ang), p[1] + w * math.sin(ang))

    pts: List[Coord] = []
    for i in range(nseg):
        ang = th[i] + nshift
        pts.append(off(cs[i], ang))
        nxt = cs[(i + 1) % nseg]
        pts.append(off(nxt, ang))
        if side == "out" or turns[i] < 0:
            pts.extend(_arc(nxt, w, ang, turns[i], quadsegs))
        # erosion at a convex joint: fall through — the next iteration's
        # first append is the chord connector
    out = _dedupe(pts)
    if len(out) < 3:
        return []
    return _close_ring(out)


# ------------------------------------------------------ winding resolution

def _is_convex(ring: Sequence[Coord]) -> bool:
    """True if the closed ring is convex (allowing collinear runs) —
    a sufficient condition for simplicity, and also that total turning
    is one full revolution (rules out multiply-wound rings)."""
    n = len(ring) - 1
    if n < 3:
        return False
    sign = 0.0
    total = 0.0
    for i in range(n):
        a, b, c = ring[i], ring[(i + 1) % n], ring[(i + 2) % n]
        ux, uy = b[0] - a[0], b[1] - a[1]
        vx, vy = c[0] - b[0], c[1] - b[1]
        cross = ux * vy - uy * vx
        dot = ux * vx + uy * vy
        if abs(cross) > _EPS:
            if sign == 0.0:
                sign = cross
            elif (cross > 0) != (sign > 0):
                return False
        total += math.atan2(cross, dot)
    return abs(abs(total) - TAU) < 1e-6


def _winding(p: Coord, rings: Sequence[Sequence[Coord]]) -> int:
    """Total winding number of the ring collection around p."""
    x, y = p
    wn = 0
    for ring in rings:
        for i in range(len(ring) - 1):
            (x1, y1), (x2, y2) = ring[i], ring[i + 1]
            if y1 <= y:
                if y2 > y and (x2 - x1) * (y - y1) - (x - x1) * (y2 - y1) > 0:
                    wn += 1
            elif y2 <= y and (x2 - x1) * (y - y1) - (x - x1) * (y2 - y1) < 0:
                wn -= 1
    return wn


def _seg_params(a: Coord, b: Coord, c: Coord, d: Coord) -> List[float]:
    """Parameters t in [0,1] along segment ab where it meets segment cd
    (crossing point, or projection of overlapping-collinear endpoints)."""
    ux, uy = b[0] - a[0], b[1] - a[1]
    vx, vy = d[0] - c[0], d[1] - c[1]
    denom = ux * vy - uy * vx
    wx, wy = c[0] - a[0], c[1] - a[1]
    if abs(denom) > _EPS:
        t = (wx * vy - wy * vx) / denom
        u = (wx * uy - wy * ux) / denom
        if -1e-12 <= t <= 1 + 1e-12 and -1e-12 <= u <= 1 + 1e-12:
            return [min(1.0, max(0.0, t))]
        return []
    # parallel: collinear overlap contributes the projected endpoints
    len2 = ux * ux + uy * uy
    if len2 < _EPS * _EPS:
        return []
    if abs(wx * uy - wy * ux) > _EPS * (1.0 + abs(wx) + abs(wy)):
        return []  # parallel but not collinear
    out = []
    for q in (c, d):
        t = ((q[0] - a[0]) * ux + (q[1] - a[1]) * uy) / len2
        if -1e-12 <= t <= 1 + 1e-12:
            out.append(min(1.0, max(0.0, t)))
    return out


def _node_key(p: Coord, tol: float = 1e-7) -> Tuple[int, int]:
    return (round(p[0] / tol), round(p[1] / tol))


def resolve(groups: List[List[List[Coord]]],
            rules: List[str]) -> List[List[List[Coord]]]:
    """Resolve raw ring groups into clean polygons.

    ``groups`` is a list of ring collections; ``rules[k]`` is the
    winding rule for group k: ``'pos'`` (inside ⇔ wn >= 1, the
    Chen–McMains offset rule) or ``'nz'`` (inside ⇔ wn != 0). A point
    is inside the result iff it is inside ANY group — i.e. the result
    is the union of the groups' regions.

    Returns polygons as ``[shell, hole, ...]`` lists, shells CCW and
    holes CW."""
    groups = [[r for r in g if len(r) >= 4] for g in groups]
    groups = [g for g in groups if g]
    if not groups:
        return []
    all_rings = [r for g in groups for r in g]
    if len(all_rings) == 1 and _is_convex(all_rings[0]):
        ring = all_rings[0]
        if ring_area2(ring) < 0:
            ring = ring[::-1]
        return [[ring]]

    def inside(p: Coord) -> bool:
        for g, rule in zip(groups, rules):
            wn = _winding(p, g)
            if (wn >= 1) if rule == "pos" else (wn != 0):
                return True
        return False

    # 1. split every segment at intersections with every other segment
    segs: List[Tuple[Coord, Coord]] = []
    for r in all_rings:
        for i in range(len(r) - 1):
            if dist(r[i], r[i + 1]) > _EPS:
                segs.append((r[i], r[i + 1]))
    cuts: List[List[float]] = [[] for _ in segs]
    for i in range(len(segs)):
        a, b = segs[i]
        for j in range(i + 1, len(segs)):
            c, d = segs[j]
            if (min(a[0], b[0]) > max(c[0], d[0]) + _EPS
                    or min(c[0], d[0]) > max(a[0], b[0]) + _EPS
                    or min(a[1], b[1]) > max(c[1], d[1]) + _EPS
                    or min(c[1], d[1]) > max(a[1], b[1]) + _EPS):
                continue
            for t in _seg_params(a, b, c, d):
                if 1e-9 < t < 1 - 1e-9:
                    cuts[i].append(t)
            for t in _seg_params(c, d, a, b):
                if 1e-9 < t < 1 - 1e-9:
                    cuts[j].append(t)

    pieces: List[Tuple[Coord, Coord]] = []
    for (a, b), ts in zip(segs, cuts):
        ts = sorted(set([0.0, 1.0] + ts))
        for k in range(len(ts) - 1):
            t0, t1 = ts[k], ts[k + 1]
            p = (a[0] + (b[0] - a[0]) * t0, a[1] + (b[1] - a[1]) * t0)
            q = (a[0] + (b[0] - a[0]) * t1, a[1] + (b[1] - a[1]) * t1)
            if dist(p, q) > _EPS:
                pieces.append((p, q))

    # 2. keep boundary pieces (inside on exactly one side), directed so
    #    the interior is on the LEFT
    kept: List[Tuple[Coord, Coord]] = []
    for a, b in pieces:
        mx, my = (a[0] + b[0]) / 2.0, (a[1] + b[1]) / 2.0
        ux, uy = b[0] - a[0], b[1] - a[1]
        ln = math.hypot(ux, uy)
        ux, uy = ux / ln, uy / ln
        delta = max(1e-9, min(ln / 4.0, 1e-6))
        il = inside((mx - uy * delta, my + ux * delta))
        ir = inside((mx + uy * delta, my - ux * delta))
        if il == ir:
            continue
        kept.append((a, b) if il else (b, a))

    # 3. stitch directed pieces into rings (interior stays on the left;
    #    at junction nodes take the rightmost turn, which keeps touching
    #    lobes as separate rings)
    outgoing: dict = {}
    for e in kept:
        outgoing.setdefault(_node_key(e[0]), []).append(e)
    used = set()
    out_rings: List[List[Coord]] = []
    for start in kept:
        if id(start) in used:
            continue
        ring = [start[0]]
        e = start
        for _ in range(len(kept) + 1):
            used.add(id(e))
            ring.append(e[1])
            if _node_key(e[1]) == _node_key(start[0]):
                break
            cands = [c for c in outgoing.get(_node_key(e[1]), [])
                     if id(c) not in used]
            if not cands:
                # the node may straddle a rounding boundary of the key
                # grid: its pieces' computed ends can differ by an ulp
                # and round to neighboring keys
                if dist(e[1], start[0]) <= 1e-7:
                    break
                kx, ky = _node_key(e[1])
                cands = [c for dx in (-1, 0, 1) for dy in (-1, 0, 1)
                         for c in outgoing.get((kx + dx, ky + dy), [])
                         if id(c) not in used and dist(c[0], e[1]) <= 1e-7]
            if not cands:
                ring = []
                break
            if len(cands) == 1:
                e = cands[0]
            else:
                din = math.atan2(e[1][1] - e[0][1], e[1][0] - e[0][0])

                def turn(c):
                    a = math.atan2(c[1][1] - c[0][1], c[1][0] - c[0][0]) - din
                    while a <= -math.pi:
                        a += TAU
                    while a > math.pi:
                        a -= TAU
                    return a
                e = min(cands, key=turn)  # rightmost turn
        if len(ring) >= 4:
            ring[-1] = ring[0]
            out_rings.append(ring)

    # 4. shells vs holes, hole assignment (smallest containing shell)
    shells = [(abs(ring_area2(r)), r) for r in out_rings if ring_area2(r) > 0]
    holes = [r for r in out_rings if ring_area2(r) < 0]
    shells.sort(key=lambda s: s[0])
    polys: List[List[List[Coord]]] = [[r] for _, r in shells]
    for h in holes:
        hx = ((h[0][0] + h[1][0]) / 2.0, (h[0][1] + h[1][1]) / 2.0)
        for k, (_, shell) in enumerate(shells):
            if _point_in_ring_fast(hx, shell):
                polys[k].append(h)
                break
    return polys


def _point_in_ring_fast(p: Coord, ring: Sequence[Coord]) -> bool:
    x, y = p
    inside = False
    for i in range(len(ring) - 1):
        (x1, y1), (x2, y2) = ring[i], ring[i + 1]
        if (y1 > y) != (y2 > y):
            if x < x1 + (y - y1) * (x2 - x1) / (y2 - y1):
                inside = not inside
    return inside


# --------------------------------------------------------------- buffer

def _erode(ring: Sequence[Coord], w: float,
           quadsegs: int) -> List[List[List[Coord]]]:
    """Clean polygons of the region inside the closed ``ring`` shrunk by
    ``w``: its 'in' offset curve resolved under the positive-winding
    rule, keeping only the faces that are really ``w`` deep. Past the
    inradius the inward offset lines cross over and the chord
    connectors close inverted loops with positive winding (the
    triangle POLYGON((0 0,1 0,0 1,0 0)) eroded by 3 left a face of
    area 3.04). A kept face's interior point lies inside the ring and
    at least the arc-chord depth ``w·cos(π/(4·quadsegs))`` from it (a
    reflex arc's chords cut that far in); a face failing either test
    is dropped."""
    from .algos import _pt_seg_dist, point_in_ring
    from .metrics import point_on_surface
    depth = w * math.cos(math.pi / (4.0 * max(1, int(quadsegs))))
    edges = list(zip(ring, ring[1:]))
    kept = []
    for poly in resolve([[ring_offset_curve(ring, w, quadsegs, "in")]],
                        ["pos"]):
        p = point_on_surface(Geometry("Polygon", poly)).parts
        if (p is not None and point_in_ring(p, ring) == 1
                and min(_pt_seg_dist(p, a, b) for a, b in edges) >= depth):
            kept.append(poly)
    return kept


def _buffer_polygon(rings: Sequence[Sequence[Coord]], w: float,
                    quadsegs: int) -> List[List[List[Coord]]]:
    """Clean polygons for one polygon part: dilate the shell, erode each
    hole (:func:`_erode`), subtract. Erosion may split a hole or empty
    it; dilation may create holes (a concave pocket whose mouth
    seals)."""
    grown = resolve([[ring_offset_curve(rings[0], w, quadsegs, "out")]],
                    ["pos"])
    if not grown:
        return []
    new_holes: List[List[Coord]] = []
    for hole in rings[1:]:
        for poly in _erode(hole, w, quadsegs):
            # erosion of a simple region yields simply connected parts;
            # only the shells matter, reversed to CW hole orientation
            new_holes.append(poly[0][::-1])
    if new_holes:
        for h in new_holes:
            hx = h[0]
            for poly in grown:
                if _point_in_ring_fast(hx, poly[0]):
                    poly.append(h)
                    break
    return grown


def buffer_path(g: Geometry, w: float, quadsegs: int) -> Geometry:
    """Dilation with a symbolic-perturbation safety net: a POSITIVE
    buffer of a non-empty geometry can never be geometrically empty, so
    an empty resolve() result means the arrangement hit an exact
    coincidence (fuzz-found examples: an axis-aligned double-back
    overshooting by exactly 1/256 aligning arc points with segment
    endpoints bitwise; a start point lying exactly ON a later segment,
    making its cap circle tangent to that segment's offset line —
    a RELATIVE coincidence no rigid motion or uniform scale breaks).
    Retry with a deterministic per-vertex jitter on an ESCALATING
    ladder (w·1e-6, then w·1e-4, then w·1e-3 — the top rung is the same
    width-relative budget _dedupe simplifies under, still below the
    quadsegs arc error): a NEAR-coincidence (deep-fuzz: a path start
    6e-8 off a later segment) needs a perturbation larger than the
    coincidence distance, which the smallest rung alone cannot
    guarantee. The jitter is a pure function of vertex order so reruns
    and oracles agree."""
    out = _buffer_path_once(g, w, quadsegs)
    for scale in (1e-6, 1e-4, 1e-3):
        if not (w > 0 and out.is_empty() and not g.is_empty()):
            break
        eps = w * scale
        idx = [0]

        def jit(p):
            i = idx[0]
            idx[0] += 1
            hx = ((i * 2654435761 + 97) & 0xFFFF) / 65535.0
            hy = ((i * 40503 + 12345) & 0xFFFF) / 65535.0
            return (p[0] + (2.0 * hx - 1.0) * eps,
                    p[1] + (2.0 * hy - 1.0) * eps)

        out = _buffer_path_once(g.map_coords(jit), w, quadsegs)
    return out


def _buffer_path_once(g: Geometry, w: float, quadsegs: int) -> Geometry:
    """Buffer a LineString / Polygon / Multi* / collection geometry with
    round joins and caps. Point/MultiPoint inputs are handled by
    ``algos.buffer`` directly (their disc layout predates this module and
    is pinned by oracles)."""
    part_polys: List[List[List[List[Coord]]]] = []
    for part in g.geometries():
        if part.typ == "Point":
            if part.parts is not None:
                part_polys.append(
                    resolve([[offset_open_ring([part.parts], w, quadsegs)]],
                            ["pos"]))
        elif part.typ == "LineString":
            if part.parts:
                part_polys.append(offset_path(part.parts, w, quadsegs))
        elif part.typ == "Polygon":
            if part.parts:
                part_polys.append(_buffer_polygon(part.parts, w, quadsegs))
    part_polys = [p for p in part_polys if p]
    if not part_polys:
        return Geometry("Polygon", [], g.srid)
    if len(part_polys) == 1:
        polys = part_polys[0]
    else:
        # union across parts: each part's clean rings are one nonzero
        # group; inside ⇔ inside any part
        groups = [[r for poly in part for r in poly] for part in part_polys]
        polys = resolve(groups, ["nz"] * len(groups))
    if not polys:
        return Geometry("Polygon", [], g.srid)
    if len(polys) == 1:
        return Geometry("Polygon", polys[0], g.srid)
    return Geometry("MultiPolygon", polys, g.srid)


def _seg_seg_trim(p0: Coord, p1: Coord, q0: Coord,
                  q1: Coord) -> Optional[Coord]:
    """Intersection of SEGMENTS p0p1 and q0q1 (params in [0, 1] with
    slack); None when parallel or when the crossing lies outside
    either segment. The inward-join trim is only geometrically valid
    in that case — the infinite-line crossing of two nearly-parallel
    offset lines (a hairpin turn) shoots arbitrarily far away (the
    miter explosion; invariant fuzz found emitted vertices 12× the
    offset distance from the input)."""
    d1 = (p1[0] - p0[0], p1[1] - p0[1])
    d2 = (q1[0] - q0[0], q1[1] - q0[1])
    den = d1[0] * d2[1] - d1[1] * d2[0]
    if abs(den) < 1e-12:
        return None
    t = ((q0[0] - p0[0]) * d2[1] - (q0[1] - p0[1]) * d2[0]) / den
    s = ((q0[0] - p0[0]) * d1[1] - (q0[1] - p0[1]) * d1[0]) / den
    if -1e-9 <= t <= 1.0 + 1e-9 and -1e-9 <= s <= 1.0 + 1e-9:
        return (p0[0] + t * d1[0], p0[1] + t * d1[1])
    return None


def offset_polyline(coords: Sequence[Coord], d: float,
                    quadsegs: int = 8) -> Optional[List[Coord]]:
    """One-sided offset of an open polyline (PostGIS ST_OffsetCurve
    core): positive ``d`` offsets to the LEFT of the travel direction,
    negative to the right with the output REVERSED (PostGIS/GEOS
    convention). Outward joints get round arcs (the GEOS default
    join); inward joints are trimmed at the offset-line intersection.
    Large offsets on tightly-folded input can self-intersect — the
    same documented caveat GEOS carries."""
    cs = _dedupe(coords)
    if len(cs) < 2:
        return None
    w = abs(d)
    if w <= 0.0:
        return list(cs)
    left = d > 0
    _, turns = _turns(cs, closed=False)
    sgn = 1.0 if left else -1.0
    # exact unit normals from the segment vectors (no trig on straight
    # runs — axis-aligned input offsets stay exactly axis-aligned)
    normals: List[Coord] = []
    for a, b in zip(cs, cs[1:]):
        dx, dy = b[0] - a[0], b[1] - a[1]
        L = math.hypot(dx, dy)
        normals.append((-sgn * dy / L, sgn * dx / L))

    def off(p: Coord, n: Coord) -> Coord:
        return (p[0] + w * n[0], p[1] + w * n[1])

    out: List[Coord] = [off(cs[0], normals[0])]
    for i in range(1, len(cs) - 1):
        n0, n1 = normals[i - 1], normals[i]
        turn = turns[i - 1]
        outward = (turn < 0.0) if left else (turn > 0.0)
        if outward:
            out.append(off(cs[i], n0))
            a0 = math.atan2(n0[1], n0[0])
            arc = _arc(cs[i], w, a0, turn, quadsegs)
            # the arc's trig end point equals off(cs[i], n1) up to 1-ulp
            # noise; emit the vector-exact form instead
            out.extend(arc[:-1])
            out.append(off(cs[i], n1))
        else:
            # trim at the offset-segment crossing when one exists
            # (its perpendicular feet then lie ON the source segments,
            # so the vertex is at exactly w from the input); a hairpin
            # whose offset segments don't cross gets a BEVEL — both
            # offset corner points — never an unbounded miter spike
            x = _seg_seg_trim(off(cs[i - 1], n0), off(cs[i], n0),
                              off(cs[i], n1), off(cs[i + 1], n1))
            if x is not None:
                out.append(x)
            else:
                out.append(off(cs[i], n0))
                out.append(off(cs[i], n1))
    out.append(off(cs[-1], normals[-1]))
    out = _dedupe(out)
    if not left:
        out.reverse()
    return out if len(out) >= 2 else None


def offset_curve_geometry(g, d: float, quadsegs: int = 8):
    """ST_OffsetCurve over (Multi)LineString input; None (SQL NULL)
    otherwise, matching the engine's non-applicable-type convention."""
    from .geom import Geometry
    if g.typ == "LineString":
        pts = offset_polyline(list(g.parts), d, quadsegs) \
            if len(g.parts) >= 2 else None
        return None if pts is None else Geometry("LineString", pts, g.srid)
    if g.typ == "MultiLineString":
        outs = [offset_polyline(list(m), d, quadsegs)
                for m in g.parts if len(m) >= 2]
        outs = [o for o in outs if o]
        return Geometry("MultiLineString", outs, g.srid)
    return None


def erode_polygons(g, w: float, quadsegs: int = 8):
    """NEGATIVE polygon buffer (PostGIS ST_Buffer with width < 0):
    each member polygon's shell is eroded inward by ``w``
    (:func:`_erode` — over-erosion empties or splits a part), and each
    hole is DILATED by ``w`` and subtracted through the exact overlay.
    Non-areal members contribute nothing (PostGIS: negative buffer of
    points/lines is EMPTY)."""
    from .geom import Geometry
    from .overlay import difference, union_all
    out_parts = []
    for m in g.geometries():
        if m.typ != "Polygon" or not m.parts:
            continue
        rings = [list(r) for r in m.parts if len(r) >= 4]
        if not rings:
            continue
        shell_polys = _erode(rings[0], w, quadsegs)
        if not shell_polys:
            continue
        base = Geometry(
            "MultiPolygon",
            [[list(r) for r in poly] for poly in shell_polys], g.srid)
        grown_holes = []
        for hole in rings[1:]:
            for poly in resolve(
                    [[ring_offset_curve(hole, w, quadsegs, "out")]],
                    ["pos"]):
                grown_holes.append(
                    Geometry("Polygon", [list(r) for r in poly], g.srid))
        if grown_holes:
            hu = union_all(grown_holes)
            if hu is not None:
                base = difference(base, hu)
        for part in base.geometries():
            if part.typ == "Polygon" and part.parts:
                out_parts.append([list(r) for r in part.parts])
    if not out_parts:
        return Geometry("Polygon", [], g.srid)
    if len(out_parts) == 1:
        return Geometry("Polygon", out_parts[0], g.srid)
    return Geometry("MultiPolygon", out_parts, g.srid)
