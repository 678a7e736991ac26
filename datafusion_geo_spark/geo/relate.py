"""Topological predicates beyond the reference's covers family:
ST_Contains / ST_Within / ST_Touches / ST_Overlaps / ST_Crosses.

PostGIS/GEOS semantics are the spec (DE-9IM); the implementation
reduces each predicate to interior-intersection tests built from the
overlay/clip machinery (geo/overlay.py) and the covers family
(geo/algos.py):

  contains(a,b)  = covers(a,b) AND Int(a) ∩ Int(b) ≠ ∅
                   ("a geometry does not contain its boundary")
  within(a,b)    = contains(b,a)
  touches(a,b)   = intersects(a,b) AND Int(a) ∩ Int(b) = ∅
  overlaps(a,b)  = same dim, Int∩Int has that dim, neither covers the
                   other
  crosses(a,b)   = interiors meet in a LOWER dimension than max(dim):
                   point-set split across a line/area, lines crossing
                   at points, a line passing through an area

Interior conventions: a (Multi)LineString's boundary is the mod-2
rule's — the member endpoints that occur an odd number of times (a
closed member contributes none; two members sharing an endpoint join
there), as in de9im.py. GeometryCollections relate member-pairwise.
"""

from __future__ import annotations

from collections import Counter
from typing import List, Optional, Tuple

from .algos import (EPS, _on_segment, covers, intersects, point_in_polygon,
                    segment_crossing)
from .geom import Coord, Geometry, dist
from .overlay import (_clip_lines, _line_members, _member_polys, _mid,
                      _pieces, _point_members, _poly_segs, _pt_in,
                      intersection)


def _dim(g: Geometry) -> int:
    dims = [2 if m.typ == "Polygon" and m.parts else
            1 if m.typ == "LineString" and len(m.parts) > 1 else
            0 if m.typ == "Point" and m.parts is not None else -1
            for m in g.geometries()]
    dims = [d for d in dims if d >= 0]
    return max(dims) if dims else -1


def _line_endpoints(g: Geometry) -> List[Coord]:
    """Boundary points of the line members under the mod-2 rule: the
    member endpoints occurring an odd number of times."""
    ends = Counter(p for ln in _line_members(g) for p in (ln[0], ln[-1]))
    return [p for p, n in ends.items() if n % 2 == 1]


def _on_any_line(p: Coord, g: Geometry) -> bool:
    return any(_on_segment(p, ln[i], ln[i + 1])
               for ln in _line_members(g)
               for i in range(len(ln) - 1))


def _pt_in_line_interior(p: Coord, g: Geometry) -> bool:
    if not _on_any_line(p, g):
        return False
    return not any(dist(p, e) <= EPS for e in _line_endpoints(g))


def _line_segs(g: Geometry) -> List[Tuple[Coord, Coord]]:
    return [(ln[i], ln[i + 1]) for ln in _line_members(g)
            for i in range(len(ln) - 1)]


def _line_overlap_pieces(a: Geometry, b: Geometry) -> list:
    """Positive-length collinear overlap of a's lines with b's lines."""
    sb = _line_segs(b)

    def on_b(m):
        return 0 if any(_on_segment(m, c, d) for c, d in sb) else -1
    return _clip_lines(_line_members(a), sb, on_b, (0,))


def _line_cross_interior(a: Geometry, b: Geometry) -> bool:
    """Lines meet at a point interior to BOTH (a true crossing or an
    interior T-junction, not an endpoint kiss)."""
    for (p, q) in _line_segs(a):
        for (c, d) in _line_segs(b):
            x = segment_crossing(p, q, c, d)
            if x is not None and _pt_in_line_interior(x, a) \
                    and _pt_in_line_interior(x, b):
                return True
    return False


def _strict_inside_pieces(lines_g: Geometry, poly_g: Geometry) -> list:
    polys = _member_polys(poly_g)
    return _clip_lines(_line_members(lines_g), _poly_segs(polys),
                       lambda m: _pt_in(m, polys), (1,))


def interiors_intersect(a: Geometry, b: Geometry) -> bool:
    """Int(a) ∩ Int(b) ≠ ∅, by dimension pair."""
    da, db = _dim(a), _dim(b)
    if da == -1 or db == -1:
        return False
    if da > db:
        return interiors_intersect(b, a)
    if da == 0:
        pts = _point_members(a)
        if db == 0:
            bp = _point_members(b)
            return any(dist(p, q) <= EPS for p in pts for q in bp)
        if db == 1:
            return any(_pt_in_line_interior(p, b) for p in pts)
        return any(_pt_in(p, _member_polys(b)) == 1 for p in pts)
    if da == 1:
        if db == 1:
            return (bool(_line_overlap_pieces(a, b))
                    or _line_cross_interior(a, b))
        return bool(_strict_inside_pieces(a, b))
    # area × area: positive-area intersection (the overlay drops
    # dimensional collapses, so any face means interior overlap)
    gi = intersection(a, b)
    return gi.typ in ("Polygon", "MultiPolygon") and bool(gi.parts)


def contains(a: Geometry, b: Geometry) -> bool:
    """ST_Contains: covers + the interiors actually meet (a polygon
    does not contain a point on its own ring, a line does not contain
    its endpoint)."""
    if not covers(a, b):
        return False
    return interiors_intersect(a, b)


def within(a: Geometry, b: Geometry) -> bool:
    """ST_Within — converse of contains."""
    return contains(b, a)


def touches(a: Geometry, b: Geometry) -> bool:
    """ST_Touches: they intersect, but only at boundaries (false for
    point×point — points have no boundary)."""
    if _dim(a) == 0 and _dim(b) == 0:
        return False
    return intersects(a, b) and not interiors_intersect(a, b)


def overlaps(a: Geometry, b: Geometry) -> bool:
    """ST_Overlaps: equal dimensions, interiors share that dimension,
    neither covers the other."""
    da, db = _dim(a), _dim(b)
    if da != db or da == -1:
        return False
    if covers(a, b) or covers(b, a):
        return False
    if da == 0:
        bp = _point_members(b)
        shared = any(dist(p, q) <= EPS
                     for p in _point_members(a) for q in bp)
        return shared  # non-coverage is established above
    if da == 1:
        return bool(_line_overlap_pieces(a, b))
    gi = intersection(a, b)
    return gi.typ in ("Polygon", "MultiPolygon") and bool(gi.parts)


def crosses(a: Geometry, b: Geometry) -> bool:
    """ST_Crosses: interiors meet in a dimension LOWER than max(dim) —
    a point set split across b, lines meeting at points only, or a
    line running through a polygon and out of it."""
    da, db = _dim(a), _dim(b)
    if da == -1 or db == -1:
        return False
    if da > db:
        return crosses(b, a)
    if da == 0 and db >= 1:
        pts = _point_members(a)
        some_in = interiors_intersect(a, b)
        some_out = any(not _covered_by_any(p, b) for p in pts)
        return some_in and some_out
    if da == 1 and db == 1:
        return (_line_cross_interior(a, b)
                and not _line_overlap_pieces(a, b))
    if da == 1 and db == 2:
        polys = _member_polys(b)
        inside = _strict_inside_pieces(a, b)
        outside = _clip_lines(_line_members(a), _poly_segs(polys),
                              lambda m: _pt_in(m, polys), (-1,))
        return bool(inside) and bool(outside)
    return False   # point×point and area×area never cross


def _covered_by_any(p: Coord, g: Geometry) -> bool:
    if _pt_in(p, _member_polys(g)) >= 0:
        return True
    if _on_any_line(p, g):
        return True
    return any(dist(p, q) <= EPS for q in _point_members(g))
