"""WKT reader/writer.

Mirrors the reference's ST_GeomFromText / ST_AsText surface
(/root/reference/src/function/geom_from_text.rs:50-76,
/root/reference/src/function/as_text.rs:88-110). Also accepts the EWKT
``SRID=n;WKT`` prefix that the reference's ST_AsEWKT emits
(/root/reference/src/function/as_ewkt.rs:88-101).

Canonical number format (matters for oracle comparison — SURVEY.md §7.0):
integral values print without a decimal point (``5`` not ``5.0``), other
values print with Python ``repr`` shortest-round-trip form. This matches
what plain-SQL string construction in DuckDB produces for integer-derived
coordinates, and PostGIS-style trimmed output
(/root/reference/src/function/as_text.rs:138-142).
"""

from __future__ import annotations

import re
from math import isfinite
from typing import List, Optional, Tuple

from .geom import Coord, Geometry

_NUM = r"[-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?"
_TOKEN = re.compile(r"\s*(" + _NUM + r"|[A-Za-z]+|[(),;=])")


def fmt_num(v: float) -> str:
    """Canonical coordinate formatting: trim integral floats."""
    if v == int(v) and abs(v) < 1e15:
        return str(int(v))
    return repr(v)


class _Parser:
    def __init__(self, s: str):
        self.s = s
        self.pos = 0

    def next(self) -> Optional[str]:
        m = _TOKEN.match(self.s, self.pos)
        if not m:
            return None
        self.pos = m.end()
        return m.group(1)

    def peek(self) -> Optional[str]:
        m = _TOKEN.match(self.s, self.pos)
        return m.group(1) if m else None

    def expect(self, tok: str) -> None:
        t = self.next()
        if t != tok:
            raise ValueError(f"WKT parse error at {self.pos}: expected {tok!r}, got {t!r}")

    def number(self) -> float:
        """The next token as a finite float: ``inf``, ``nan`` and a
        literal past the double range (``1e400``) raise, as the fast
        text codec does; ``fmt_num`` could not print them back."""
        t = self.next()
        try:
            v = float(t)
        except (TypeError, ValueError):
            raise ValueError(f"WKT parse error at {self.pos}: expected number, got {t!r}")
        if not isfinite(v):
            raise ValueError(f"WKT parse error at {self.pos}: non-finite number {t!r}")
        return v

    def coord(self) -> Coord:
        x = self.number()
        y = self.number()
        # tolerate Z/M values by skipping extra numbers (XY-only model)
        while self.peek() not in (",", ")", None):
            self.number()
        return (x, y)

    def coord_seq(self) -> List[Coord]:
        self.expect("(")
        out = [self.coord()]
        while self.peek() == ",":
            self.next()
            out.append(self.coord())
        self.expect(")")
        return out

    def ring_seq(self) -> List[List[Coord]]:
        self.expect("(")
        out = [self.coord_seq()]
        while self.peek() == ",":
            self.next()
            out.append(self.coord_seq())
        self.expect(")")
        return out

    def geometry(self) -> Geometry:
        tok = self.next()
        if tok is None:
            raise ValueError("empty WKT")
        kw = tok.upper()
        if self.peek() and self.peek().upper() == "EMPTY":
            self.next()
            empty = {"POINT": None, "LINESTRING": [], "POLYGON": [],
                     "MULTIPOINT": [], "MULTILINESTRING": [], "MULTIPOLYGON": [],
                     "GEOMETRYCOLLECTION": []}
            if kw not in empty:
                raise ValueError(f"unknown WKT type {tok!r}")
            return Geometry(_TYPE_KW[kw], empty[kw])
        if kw == "POINT":
            self.expect("(")
            c = self.coord()
            self.expect(")")
            return Geometry("Point", c)
        if kw == "LINESTRING":
            return Geometry("LineString", self.coord_seq())
        if kw == "POLYGON":
            return Geometry("Polygon", self.ring_seq())
        if kw == "MULTIPOINT":
            # both MULTIPOINT(1 2, 3 4) and MULTIPOINT((1 2), (3 4))
            self.expect("(")
            pts: List[Coord] = []
            while True:
                if self.peek() == "(":
                    self.next()
                    pts.append(self.coord())
                    self.expect(")")
                else:
                    pts.append(self.coord())
                if self.peek() == ",":
                    self.next()
                    continue
                break
            self.expect(")")
            return Geometry("MultiPoint", pts)
        if kw == "MULTILINESTRING":
            return Geometry("MultiLineString", self.ring_seq())
        if kw == "MULTIPOLYGON":
            self.expect("(")
            polys = [self.ring_seq()]
            while self.peek() == ",":
                self.next()
                polys.append(self.ring_seq())
            self.expect(")")
            return Geometry("MultiPolygon", polys)
        if kw == "GEOMETRYCOLLECTION":
            self.expect("(")
            geoms = [self.geometry()]
            while self.peek() == ",":
                self.next()
                geoms.append(self.geometry())
            self.expect(")")
            return Geometry("GeometryCollection", geoms)
        raise ValueError(f"unknown WKT type {tok!r}")


_TYPE_KW = {
    "POINT": "Point", "LINESTRING": "LineString", "POLYGON": "Polygon",
    "MULTIPOINT": "MultiPoint", "MULTILINESTRING": "MultiLineString",
    "MULTIPOLYGON": "MultiPolygon", "GEOMETRYCOLLECTION": "GeometryCollection",
}


def from_wkt(s: str) -> Geometry:
    """Parse WKT or EWKT (``SRID=n;...``) into a Geometry."""
    s = s.strip()
    srid = None
    m = re.match(r"(?i)^SRID\s*=\s*(\d+)\s*;\s*", s)
    if m:
        srid = int(m.group(1))
        s = s[m.end():]
    p = _Parser(s)
    try:
        g = p.geometry()
    except RecursionError:
        # a thousands-deep GEOMETRYCOLLECTION nesting bomb must fail
        # the ROW (ValueError, the kernel's clean per-row path), not
        # blow the task's stack
        raise ValueError("invalid WKT: nesting too deep") from None
    if p.peek() is not None:
        raise ValueError(f"trailing content in WKT at {p.pos}: {s[p.pos:]!r}")
    return g.with_srid(srid)


def _coords(cs) -> str:
    return ",".join(f"{fmt_num(x)} {fmt_num(y)}" for x, y in cs)


def to_wkt(g: Geometry) -> str:
    """Serialize to WKT. PostGIS-compact style: ``POINT(1 2)`` — no space
    before '(' and no space after ','."""
    t, p = g.typ, g.parts
    if g.is_empty():
        return f"{t.upper()} EMPTY"
    if t == "Point":
        return f"POINT({fmt_num(p[0])} {fmt_num(p[1])})"
    if t == "LineString":
        return f"LINESTRING({_coords(p)})"
    if t == "Polygon":
        return "POLYGON(" + ",".join(f"({_coords(r)})" for r in p) + ")"
    if t == "MultiPoint":
        return "MULTIPOINT(" + _coords(p) + ")"
    if t == "MultiLineString":
        return "MULTILINESTRING(" + ",".join(f"({_coords(l)})" for l in p) + ")"
    if t == "MultiPolygon":
        return ("MULTIPOLYGON("
                + ",".join("(" + ",".join(f"({_coords(r)})" for r in poly) + ")"
                           for poly in p) + ")")
    if t == "GeometryCollection":
        return "GEOMETRYCOLLECTION(" + ",".join(to_wkt(sub) for sub in p) + ")"
    raise ValueError(t)


def to_ewkt(g: Geometry) -> str:
    """``SRID=n;WKT`` when an SRID is present, else plain WKT — mirrors
    /root/reference/src/function/as_ewkt.rs:88-101."""
    w = to_wkt(g)
    return f"SRID={g.srid};{w}" if g.srid else w
