"""Full DE-9IM intersection matrix — ST_Relate(a, b [, pattern]) and
ST_RelateMatch(matrix, pattern).

PostGIS/GEOS semantics are the spec (the reference engine has no relate
function; its predicate surface stops at covers/intersects/equals —
/root/reference/src/function/{covers,intersects}.rs). The matrix rows
are a's Interior/Boundary/Exterior, columns b's, row-major; each cell is
the DIMENSION of the point-set intersection: 'F' (empty), '0', '1', '2'.
Cell [2][2] (exterior x exterior) is always '2' on the plane.

Point-set model (XY, matching the rest of the geo core):

  dim 0  interior = the member points; boundary = empty
  dim 1  interior = the curves minus mod-2 boundary nodes; boundary =
         endpoints occurring an ODD number of times across members
         (the OGC mod-2 rule: a closed ring has no boundary, a shared
         endpoint of two members is an interior node)
  dim 2  interior = the open faces; boundary = the rings

GeometryCollections and mixed-dimension inputs return None (GEOS raises
"Operation not supported by GeometryCollection"; NULL is the SQL
surface of that). Empty operands relate like GEOS: all I/B cells 'F',
the exterior column reports the other operand's set dimensions.

Dimension of each cell is decided set-theoretically, reusing the
overlay/clip machinery (open-set arguments keep the case analysis
small: any curve point inside an open face drags a positive arc with
it, so curve x face is 'F' or '1', never '0'; likewise face x face is
'F' or '2')."""

from __future__ import annotations

from collections import Counter
from typing import List, Optional, Sequence, Tuple

from .algos import EPS, _on_segment, segment_crossing, segments_intersect
from .geom import Coord, Geometry, dist
from .overlay import (_clip_lines, _line_members, _member_polys, _mid,
                      _point_members, _poly_segs, _pt_in, difference,
                      intersection)

Seg = Tuple[Coord, Coord]


class _Desc:
    """Point-set decomposition of one homogeneous-dimension geometry."""

    __slots__ = ("dim", "pts", "lines", "segs", "bnd_pts", "polys",
                 "ringsegs", "g")

    def __init__(self, g: Geometry) -> None:
        self.g = g
        dims = set()
        for m in g.geometries():
            if m.typ == "Polygon" and m.parts:
                dims.add(2)
            elif m.typ == "LineString" and len(m.parts or []) > 1:
                dims.add(1)
            elif m.typ == "Point" and m.parts is not None:
                dims.add(0)
        if len(dims) > 1:
            raise ValueError("mixed-dimension input")
        self.dim = dims.pop() if dims else -1
        self.pts: List[Coord] = []
        self.lines: List[List[Coord]] = []
        self.segs: List[Seg] = []
        self.bnd_pts: List[Coord] = []
        self.polys = []
        self.ringsegs: List[Seg] = []
        if self.dim == 0:
            self.pts = _point_members(g)
        elif self.dim == 1:
            self.lines = _line_members(g)
            self.segs = [(ln[i], ln[i + 1]) for ln in self.lines
                         for i in range(len(ln) - 1)
                         if dist(ln[i], ln[i + 1]) > EPS]
            ends = Counter()
            for ln in self.lines:
                ends[ln[0]] += 1
                ends[ln[-1]] += 1
            self.bnd_pts = [p for p, n in ends.items() if n % 2 == 1]
        elif self.dim == 2:
            self.polys = _member_polys(g)
            self.ringsegs = _poly_segs(self.polys)

    # ---- membership tests against this operand's point sets
    def on_curve(self, p: Coord) -> bool:
        segs = self.segs if self.dim == 1 else self.ringsegs
        return any(_on_segment(p, a, b) for a, b in segs)

    def is_bnd_pt(self, p: Coord) -> bool:
        return any(dist(p, e) <= EPS for e in self.bnd_pts)

    def in_interior_curve(self, p: Coord) -> bool:
        """dim-1 only: on the curves, not a mod-2 boundary node."""
        return self.on_curve(p) and not self.is_bnd_pt(p)

    def in_closure(self, p: Coord) -> bool:
        if self.dim == 0:
            return any(dist(p, q) <= EPS for q in self.pts)
        if self.dim == 1:
            return self.on_curve(p)
        if self.dim == 2:
            return _pt_in(p, self.polys) >= 0
        return False

    def curve_lines(self) -> List[List[Coord]]:
        """The dim-1 curves of this operand's interior closure (lines)
        or boundary (polygon rings)."""
        if self.dim == 1:
            return self.lines
        return [list(r) for rings in self.polys for r in rings]


# ---------------------------------------------------------------- cell dims

def _dim_pts_pts(pa: Sequence[Coord], pb: Sequence[Coord]) -> int:
    return 0 if any(dist(p, q) <= EPS for p in pa for q in pb) else -1


def _dim_pts_curve(pts: Sequence[Coord], segs: Sequence[Seg],
                   interior_test) -> int:
    for p in pts:
        if any(_on_segment(p, a, b) for a, b in segs) and interior_test(p):
            return 0
    return -1


def _dim_pts_face(pts: Sequence[Coord], polys) -> int:
    return 0 if any(_pt_in(p, polys) == 1 for p in pts) else -1


def _curve_overlap(lines_a: List[List[Coord]], segs_b: Sequence[Seg]) -> bool:
    """Positive-length collinear overlap of a's curves with b's segs."""

    def on_b(m: Coord) -> int:
        return 0 if any(_on_segment(m, c, d) for c, d in segs_b) else -1

    return bool(_clip_lines(lines_a, segs_b, on_b, (0,)))


def _curve_meet_points(segs_a: Sequence[Seg],
                       segs_b: Sequence[Seg]) -> List[Coord]:
    """Candidate isolated meeting points of two segment arrangements
    (proper crossings plus endpoint-on-segment touches)."""
    out: List[Coord] = []
    for (a, b) in segs_a:
        for (c, d) in segs_b:
            if not segments_intersect(a, b, c, d):
                continue
            x = segment_crossing(a, b, c, d)
            if x is not None:
                out.append(x)
                continue
            for e in (c, d):
                if _on_segment(e, a, b):
                    out.append(e)
            for e in (a, b):
                if _on_segment(e, c, d):
                    out.append(e)
    return out


def _dim_curve_curve(lines_a, segs_a, int_a, lines_b, segs_b, int_b) -> int:
    """int_a/int_b: point-membership tests for the two curve SETS (for
    a line interior they exclude boundary nodes; rings accept all)."""
    if _curve_overlap(lines_a, segs_b):
        # a positive arc misses at most finitely many boundary nodes
        return 1
    for x in _curve_meet_points(segs_a, segs_b):
        if int_a(x) and int_b(x):
            return 0
    return -1


def _dim_curve_face(lines_a: List[List[Coord]], polys_b) -> int:
    inside = _clip_lines(lines_a, _poly_segs(polys_b),
                         lambda m: _pt_in(m, polys_b), (1,))
    return 1 if inside else -1


def _dim_face_face(a: Geometry, b: Geometry) -> int:
    gi = intersection(a, b)
    return 2 if gi.typ in ("Polygon", "MultiPolygon") and gi.parts else -1


def _dim_vs_ext(kind: str, da: "_Desc", db: "_Desc") -> int:
    """dim( <set of a> ∩ Exterior(b) ) for kind in {'I', 'B'}."""
    if kind == "B" and da.dim == 2:
        lines, segs, pts = da.curve_lines(), da.ringsegs, []
        setdim = 1
    elif kind == "B" and da.dim == 1:
        lines, segs, pts = [], [], da.bnd_pts
        setdim = 0 if pts else -1
    elif kind == "B":
        return -1  # points have no boundary
    elif da.dim == 2:
        return _face_vs_ext(da, db)
    elif da.dim == 1:
        lines, segs, pts = da.lines, da.segs, []
        setdim = 1
    elif da.dim == 0:
        lines, segs, pts = [], [], da.pts
        setdim = 0 if pts else -1
    else:
        return -1
    if setdim == -1:
        return -1
    if db.dim == -1:
        return setdim
    if pts:  # finite point set vs exterior
        return 0 if any(not db.in_closure(p) for p in pts) else -1
    # curve set vs exterior
    if db.dim == 0:
        return 1  # finite points cannot cover a curve
    if db.dim == 1:
        outside = _clip_lines(lines, db.segs,
                              lambda m: 0 if db.on_curve(m) else -1, (-1,))
        return 1 if outside else -1
    outside = _clip_lines(lines, _poly_segs(db.polys),
                          lambda m: _pt_in(m, db.polys), (-1,))
    return 1 if outside else -1


def _face_vs_ext(da: "_Desc", db: "_Desc") -> int:
    if db.dim == 2:
        gd = difference(da.g, db.g)
        return 2 if gd.typ in ("Polygon", "MultiPolygon") and gd.parts else -1
    return 2  # lower-dim b cannot cover an open face


def _cell_II(da: "_Desc", db: "_Desc") -> int:
    if da.dim == -1 or db.dim == -1:
        return -1
    if da.dim > db.dim:
        return _cell_II(db, da)
    if da.dim == 0:
        if db.dim == 0:
            return _dim_pts_pts(da.pts, db.pts)
        if db.dim == 1:
            return _dim_pts_curve(da.pts, db.segs, db.in_interior_curve)
        return _dim_pts_face(da.pts, db.polys)
    if da.dim == 1:
        if db.dim == 1:
            return _dim_curve_curve(da.lines, da.segs, da.in_interior_curve,
                                    db.lines, db.segs, db.in_interior_curve)
        return _dim_curve_face(da.lines, db.polys)
    return _dim_face_face(da.g, db.g)


def _cell_IB(da: "_Desc", db: "_Desc") -> int:
    """dim( Interior(a) ∩ Boundary(b) )."""
    if da.dim == -1 or db.dim == -1:
        return -1
    if db.dim == 0:
        return -1
    if db.dim == 1:  # boundary of b = its odd nodes (points)
        if not db.bnd_pts:
            return -1
        if da.dim == 0:
            return _dim_pts_pts(da.pts, db.bnd_pts)
        if da.dim == 1:
            return _dim_pts_curve(db.bnd_pts, da.segs, da.in_interior_curve)
        return _dim_pts_face(db.bnd_pts, da.polys)
    # boundary of b = its rings (closed curves)
    rl = db.curve_lines()
    if da.dim == 0:
        return _dim_pts_curve(da.pts, db.ringsegs, lambda p: True)
    if da.dim == 1:
        return _dim_curve_curve(da.lines, da.segs, da.in_interior_curve,
                                rl, db.ringsegs, lambda p: True)
    return _dim_curve_face(rl, da.polys)


def _cell_BB(da: "_Desc", db: "_Desc") -> int:
    if da.dim <= 0 or db.dim <= 0:
        return -1
    if da.dim == 1 and db.dim == 1:
        return _dim_pts_pts(da.bnd_pts, db.bnd_pts)
    if da.dim == 1:
        return _dim_pts_curve(da.bnd_pts, db.ringsegs, lambda p: True)
    if db.dim == 1:
        return _dim_pts_curve(db.bnd_pts, da.ringsegs, lambda p: True)
    return _dim_curve_curve(da.curve_lines(), da.ringsegs, lambda p: True,
                            db.curve_lines(), db.ringsegs, lambda p: True)


_DIMCH = {-1: "F", 0: "0", 1: "1", 2: "2"}


def relate(a: Geometry, b: Geometry) -> Optional[str]:
    """The 9-character DE-9IM matrix of a vs b, or None for
    GeometryCollection / mixed-dimension inputs (GEOS parity: relate
    does not support heterogeneous collections)."""
    if a.typ == "GeometryCollection" or b.typ == "GeometryCollection":
        return None
    try:
        da, db = _Desc(a), _Desc(b)
    except ValueError:
        return None
    m = [
        [_cell_II(da, db), _cell_IB(da, db), _dim_vs_ext("I", da, db)],
        [_cell_IB(db, da), _cell_BB(da, db), _dim_vs_ext("B", da, db)],
        [_dim_vs_ext("I", db, da), _dim_vs_ext("B", db, da), 2],
    ]
    return "".join(_DIMCH[c] for row in m for c in row)


def relate_match(matrix: str, pattern: str) -> Optional[bool]:
    """ST_RelateMatch: does a DE-9IM matrix satisfy an intersection
    pattern ('T' any non-empty, 'F' empty, '0'/'1'/'2' exact dimension,
    '*' anything)? None on malformed inputs."""
    if matrix is None or pattern is None:
        return None
    if len(matrix) != 9 or len(pattern) != 9:
        return None
    for mc, pc in zip(matrix.upper(), pattern.upper()):
        if mc not in "F012":
            return None
        if pc == "*":
            continue
        if pc == "T":
            if mc == "F":
                return False
        elif pc == "F":
            if mc != "F":
                return False
        elif pc in "012":
            if mc != pc:
                return False
        else:
            return None
    return True
