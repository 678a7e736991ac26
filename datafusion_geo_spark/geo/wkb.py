"""WKB / EWKB codec.

The reference stores geometries as dialect-prefixed WKB inside Arrow
Binary arrays (/root/reference/src/geo/builder.rs:75-81, dialect tags at
/root/reference/src/geo/dialect.rs:5-13). Per SURVEY.md §7.0 we drop the
1-byte dialect prefix and store **standard (E)WKB**: ISO WKB when no SRID
is set, PostGIS-style EWKB (SRID flag 0x20000000 + 4-byte srid) when one
is — the same canonical write dialect the reference uses
(/root/reference/src/geo/builder.rs:112-122: EWKB default).

Little-endian output always; both endiannesses accepted on read.
"""

from __future__ import annotations

import struct
from typing import List, Optional, Tuple

from .geom import Coord, Geometry, GEOM_TYPES, TYPE_CODE

_EWKB_SRID_FLAG = 0x20000000
_EWKB_Z_FLAG = 0x80000000
_EWKB_M_FLAG = 0x40000000
_NAN = float("nan")


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def geometry(self) -> Geometry:
        buf = self.buf
        byte_order = buf[self.pos]
        fmt = "<" if byte_order == 1 else ">"
        (raw_type,) = struct.unpack_from(fmt + "I", buf, self.pos + 1)
        self.pos += 5
        srid = None
        has_z = bool(raw_type & _EWKB_Z_FLAG)
        has_m = bool(raw_type & _EWKB_M_FLAG)
        if raw_type & _EWKB_SRID_FLAG:
            (srid,) = struct.unpack_from(fmt + "i", buf, self.pos)
            self.pos += 4
        code = raw_type & 0xFF
        if code > 7:  # ISO WKB Z/M encodings: 1001.., 2001.., 3001..
            iso = raw_type & 0xFFFF
            code = iso % 1000
            dims = iso // 1000
            has_z = has_z or dims in (1, 3)
            has_m = has_m or dims in (2, 3)
        if not 1 <= code <= 7:
            raise ValueError(f"unsupported WKB geometry type {raw_type}")
        ncoord = 2 + (1 if has_z else 0) + (1 if has_m else 0)
        typ = GEOM_TYPES[code]

        def checked(n: int, unit: int) -> int:
            # a declared count claiming more elements than the REMAINING
            # bytes can possibly hold is malformed — reject BEFORE
            # allocating anything n-sized (hypothesis: a 13-byte blob
            # declaring a ~4-billion-point LineString made the naive
            # decoder build a multi-GB struct format string; every
            # element of any WKB container occupies >= ``unit`` bytes,
            # so this bound admits every well-formed buffer)
            if n * unit > len(buf) - self.pos:
                raise ValueError(
                    f"invalid WKB: declared count {n} exceeds buffer")
            return n

        def coords(n: int) -> List[Coord]:
            checked(n, 8 * ncoord)
            vals = struct.unpack_from(fmt + "d" * (n * ncoord), buf, self.pos)
            self.pos += 8 * n * ncoord
            return [(vals[i * ncoord], vals[i * ncoord + 1]) for i in range(n)]

        def u32(unit: int = 1) -> int:
            (v,) = struct.unpack_from(fmt + "I", buf, self.pos)
            self.pos += 4
            return checked(v, unit)

        if typ == "Point":
            (c,) = coords(1)
            if c[0] != c[0]:  # NaN NaN == POINT EMPTY
                return Geometry("Point", None, srid)
            return Geometry("Point", c, srid)
        if typ == "LineString":
            return Geometry("LineString", coords(u32()), srid)
        if typ == "Polygon":
            # each ring carries at least its own 4-byte count
            return Geometry("Polygon",
                            [coords(u32()) for _ in range(u32(4))], srid)
        if typ == "MultiPoint":
            pts = []
            for _ in range(u32(5)):  # each member: 5-byte header minimum
                sub = self.geometry()
                pts.append(sub.parts)
            return Geometry("MultiPoint", [p for p in pts if p is not None], srid)
        if typ == "MultiLineString":
            return Geometry("MultiLineString",
                            [self.geometry().parts for _ in range(u32(5))],
                            srid)
        if typ == "MultiPolygon":
            return Geometry("MultiPolygon",
                            [self.geometry().parts for _ in range(u32(5))],
                            srid)
        # GeometryCollection
        return Geometry("GeometryCollection",
                        [self.geometry() for _ in range(u32(5))], srid)


def from_wkb(buf: bytes) -> Geometry:
    if not buf or len(buf) < 5:
        raise ValueError("invalid WKB: too short")
    try:
        return _Reader(bytes(buf)).geometry()
    except (struct.error, IndexError, MemoryError, OverflowError,
            RecursionError) as e:
        # truncated/garbage buffers surface as ValueError like every
        # other malformed-input path (hypothesis: a 5-byte EWKB header
        # claiming an SRID crashed struct.unpack_from; RecursionError:
        # a thousands-deep nested-collection bomb must fail the ROW,
        # not the task)
        raise ValueError(f"invalid WKB: {e}") from e


def _header(code: int, srid: Optional[int], out: List[bytes]) -> None:
    if srid:
        out.append(struct.pack("<BIi", 1, code | _EWKB_SRID_FLAG, srid))
    else:
        out.append(struct.pack("<BI", 1, code))


def _pack_coords(cs, out: List[bytes], with_count: bool = True) -> None:
    if with_count:
        out.append(struct.pack("<I", len(cs)))
    flat = [v for c in cs for v in c]
    out.append(struct.pack("<" + "d" * len(flat), *flat))


def _encode(g: Geometry, out: List[bytes], srid: Optional[int]) -> None:
    t, p = g.typ, g.parts
    _header(TYPE_CODE[t], srid, out)
    if t == "Point":
        if p is None:
            out.append(struct.pack("<dd", _NAN, _NAN))
        else:
            out.append(struct.pack("<dd", p[0], p[1]))
        return
    if t == "LineString":
        _pack_coords(p, out)
        return
    if t == "Polygon":
        out.append(struct.pack("<I", len(p)))
        for ring in p:
            _pack_coords(ring, out)
        return
    if t == "MultiPoint":
        out.append(struct.pack("<I", len(p)))
        for c in p:
            _encode(Geometry("Point", c), out, None)
        return
    if t == "MultiLineString":
        out.append(struct.pack("<I", len(p)))
        for line in p:
            _encode(Geometry("LineString", line), out, None)
        return
    if t == "MultiPolygon":
        out.append(struct.pack("<I", len(p)))
        for poly in p:
            _encode(Geometry("Polygon", poly), out, None)
        return
    if t == "GeometryCollection":
        out.append(struct.pack("<I", len(p)))
        for sub in p:
            _encode(sub, out, None)
        return
    raise ValueError(t)


def to_wkb(g: Geometry) -> bytes:
    """Little-endian (E)WKB; SRID emitted only on the outermost header,
    matching PostGIS EWKB and the reference's builder
    (/root/reference/src/geo/builder.rs:112-122)."""
    out: List[bytes] = []
    _encode(g, out, g.srid)
    return b"".join(out)


def wkb_srid(buf: bytes) -> Optional[int]:
    """Read just the SRID from an (E)WKB header without full decode —
    mirrors ST_SRID (/root/reference/src/function/srid.rs:46-67)."""
    if not buf or len(buf) < 5:
        return None
    fmt = "<" if buf[0] == 1 else ">"
    (raw_type,) = struct.unpack_from(fmt + "I", buf, 1)
    if raw_type & _EWKB_SRID_FLAG:
        (srid,) = struct.unpack_from(fmt + "i", buf, 5)
        return srid
    return None


def fixed_header(typ: str, srid: Optional[int], k: int) -> bytes:
    """The bytes ``to_wkb`` writes before the k vertices of a POINT
    (k = 1), a LINESTRING or a one-ring POLYGON: the fixed-layout values
    of geo/vector.py's batch codec."""
    out: List[bytes] = []
    _header(TYPE_CODE[typ], srid, out)
    if typ == "LineString":
        out.append(struct.pack("<I", k))
    elif typ == "Polygon":
        out.append(struct.pack("<II", 1, k))
    return b"".join(out)


def fixed_layout(buf: bytes) -> Optional[Tuple[str, Optional[int], int]]:
    """(type, SRID, vertex count) of a value that is exactly
    ``fixed_header`` + k little-endian 2-D vertices; None for any other
    value (big-endian, Z/M, multi-ring, multi-part or malformed)."""
    if len(buf) < 9 or buf[0] != 1:
        return None
    raw = int.from_bytes(buf[1:5], "little")
    srid, off = None, 5
    if raw & _EWKB_SRID_FLAG:
        srid, off = int.from_bytes(buf[5:9], "little", signed=True), 9
    code = raw & ~_EWKB_SRID_FLAG
    if code not in (1, 2, 3):
        return None
    # a polygon's vertex count follows its ring count
    k = 1 if code == 1 else \
        int.from_bytes(buf[off + 4 * (code - 2):off + 4 * (code - 1)], "little")
    hdr = fixed_header(GEOM_TYPES[code], srid, k)
    if len(buf) != len(hdr) + 16 * k or not buf.startswith(hdr):
        return None
    return GEOM_TYPES[code], srid, k
