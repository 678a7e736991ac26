"""numpy-vectorized fixed-layout batch codecs and kernels.

The reference gets columnar speed from rayon-parallel Rust loops over
Arrow arrays (/root/reference/src/function/intersects.rs:104-130). The
Spark engine's equivalent lever inside each Python worker is numpy over
the whole Arrow batch: when a geometry column is *fixed-layout* (every
non-NULL value a little-endian 2-D POINT, LINESTRING of k vertices or
one-ring POLYGON of k vertices, all with one header, SRID included),
the batch decodes into one (n, k, 2) float64 array with one join and
one frombuffer, and predicates/transforms run as numpy expressions —
10-50x over per-row object decoding. ``decode``/``encode`` are the one
(E)WKB codec pair (header layout: ``wkb.fixed_header``), and
``parse_text``/``format_text`` the one WKT/GeoJSON pair, spelling each
value as ``to_wkt``/``to_geojson`` do. Batches with mixed types, vertex
counts or SRIDs, big-endian or Z/M values, or other spellings fall back
to the object path.

Uniformity is the common case by construction: geometry columns written
by one pipeline stage share a type, a layout and an SRID.
"""

from __future__ import annotations

import json
import warnings
from typing import List, Optional, Sequence, Tuple

import numpy as np

from .wkb import fixed_header, fixed_layout
from .wkt import fmt_num


class Batch:
    """A decoded fixed-layout batch: ``coords`` (n, k, 2) float64, NaN
    on NULL rows; ``valid`` True where the value was non-NULL; ``typ``
    "Point" (k = 1), "LineString" or "Polygon" (one ring of k vertices);
    ``srid`` the SRID every value carries, or None. A point batch also
    has its coordinates as contiguous ``x``/``y`` arrays, the operands
    of the point kernels (strided views into ``coords`` made
    ``points_in_ring`` ~1.6x slower)."""

    __slots__ = ("coords", "valid", "typ", "srid", "n", "k", "x", "y")

    def __init__(self, coords: np.ndarray, valid: np.ndarray, typ: str,
                 srid: Optional[int]):
        self.coords, self.valid, self.typ, self.srid = coords, valid, typ, srid
        self.n, self.k = coords.shape[0], coords.shape[1]
        self.x = self.y = None
        if typ == "Point":
            self.x = np.ascontiguousarray(coords[:, 0, 0])
            self.y = np.ascontiguousarray(coords[:, 0, 1])


def decode(values: Sequence) -> Optional[Batch]:
    """Decode a batch whose non-NULL values share one fixed layout; None
    otherwise (the caller falls back to the object path). The first
    value's header decides the layout, so a batch it rules out is
    rejected before any join. An all-NULL batch decodes as points with
    every row invalid, so a point fast path answers it with NULLs."""
    n = len(values)
    v0 = next((v for v in values if v is not None), None)
    if v0 is None:
        return Batch(np.full((n, 1, 2), np.nan), np.zeros(n, bool),
                     "Point", None)
    v0 = bytes(v0)
    layout = fixed_layout(v0)
    if layout is None:
        return None
    typ, srid, k = layout
    L = len(v0)
    # a strided sample of lengths rejects a mixed batch without a pass
    if any(v is not None and len(v) != L for v in values[::n // 16 + 1]):
        return None
    vs = [v for v in values if v is not None]
    m = len(vs)
    if list(map(len, vs)).count(L) != m:
        return None
    try:
        joined = b"".join(vs)
    except TypeError:
        joined = b"".join(bytes(v) for v in vs)
    H = L - 16 * k  # header bytes, then k (x, y) pairs
    rows = np.frombuffer(joined, dtype=np.dtype({
        "names": ["hdr", "xy"], "formats": [f"V{H}", ("<f8", (k, 2))],
        "offsets": [0, H], "itemsize": L}))
    if not (rows["hdr"] == rows["hdr"][0]).all():
        return None
    if m == n:
        coords, valid = rows["xy"].copy(), np.ones(n, bool)
    else:
        valid = np.fromiter((v is not None for v in values), bool, n)
        coords = np.full((n, k, 2), np.nan)
        coords[valid] = rows["xy"]
    if typ == "Point":  # wkb reads a point with a NaN x as POINT EMPTY
        p = coords[:, 0]
        p[np.isnan(p[:, 0])] = np.nan
    return Batch(coords, valid, typ, srid)


def encode(typ: str, coords: np.ndarray, valid: Optional[np.ndarray] = None,
           srid: Optional[int] = None) -> List[Optional[bytes]]:
    """(E)WKB of each row of ``coords`` — (n, 2) points or (n, k, 2) — in
    the fixed layout ``typ`` with one batch SRID, byte for byte what
    ``to_wkb`` writes; None where ``valid`` is False."""
    n = len(coords)
    if valid is not None and not valid.any():  # no row: no header to build
        return [None] * n
    k = coords.shape[1] if coords.ndim == 3 else 1
    hdr = np.frombuffer(fixed_header(typ, srid, k), dtype=np.uint8)
    H, L = len(hdr), len(hdr) + 16 * k
    raw = np.empty((n, L), dtype=np.uint8)
    raw[:, :H] = hdr
    raw[:, H:] = np.ascontiguousarray(coords, dtype="<f8") \
        .reshape(n, 2 * k).view(np.uint8)
    buf = raw.tobytes()
    offs = range(0, n * L, L)
    if valid is None:
        return [buf[o:o + L] for o in offs]
    return [buf[o:o + L] if ok else None for o, ok in zip(offs, valid.tolist())]


# ------------------------------------------------------------ text

#: (format, type) -> (prefix, suffix, x-y separator, vertex separator,
#: the text of a value without vertices), as wkt.to_wkt and
#: geojson.to_geojson write a fixed-layout value
_TEXT = {
    ("wkt", "Point"): ("POINT(", ")", " ", ",", "POINT EMPTY"),
    ("wkt", "LineString"): ("LINESTRING(", ")", " ", ",", "LINESTRING EMPTY"),
    ("wkt", "Polygon"): ("POLYGON((", "))", " ", ",", "POLYGON(())"),
    ("geojson", "Point"): ('{"type":"Point","coordinates":[', "]}", ",",
                           "],[", '{"type":"Point","coordinates":[]}'),
    ("geojson", "LineString"): ('{"type":"LineString","coordinates":[[', "]]}",
                                ",", "],[", '{"type":"LineString","coordinates":[]}'),
    ("geojson", "Polygon"): ('{"type":"Polygon","coordinates":[[[', "]]]}",
                             ",", "],[", '{"type":"Polygon","coordinates":[[]]}'),
}

#: number bytes (no whitespace, inf, nan or hex: both parsers agree)
_NUMBER = np.zeros(256, bool)
_NUMBER[np.frombuffer(b"0123456789+-.eE", np.uint8)] = True


def parse_text(values: Sequence, fmt: str) -> Optional[Batch]:
    """The batch of ``fmt`` text ("wkt" or "geojson") whose non-NULL
    values (NULL: None or NaN) are one fixed layout spelled as
    ``format_text`` prints it, numbers finite and in any form the object
    parser (``wkt.from_wkt``/``geojson.from_geojson``) reads; None
    otherwise. The first value's prefix picks the layout, so a batch it
    rules out costs no pass. POINT EMPTY rows are NaN."""
    n = len(values)
    v0 = next((v for v in values if v is not None and v == v), None)
    for typ in ("Point", "LineString", "Polygon"):
        pre, suf, xy, vsep, empty = _TEXT[fmt, typ]
        if v0.__class__ is str and (v0.startswith(pre) or v0 == empty):
            break
    else:
        return None
    # a strided sample rejects a mixed batch without a pass
    if any(v.__class__ is str and not v.startswith(pre) and v != empty
           for v in values[::n // 16 + 1]):
        return None
    body = [v for v in values if v.__class__ is str]
    if any(v is not None and v == v for v in values if v.__class__ is not str):
        return None
    valid = np.fromiter((v.__class__ is str for v in values), bool, n)
    ne = body.count(empty)
    if ne == len(body) and typ == "LineString":
        return Batch(np.empty((n, 0, 2)), valid, typ, None)
    full = [v for v in body if v != empty] if ne else body
    inner = [v[len(pre):-len(suf)] for v in full
             if v.startswith(pre) and v.endswith(suf)]
    m = len(inner)
    k = inner[0].count(vsep) + 1 if m else 0
    # per-row arity: every row has the first row's vertex count
    if not m or m != len(full) or (ne and typ != "Point") \
            or (typ == "Point" and k != 1) \
            or [r.count(vsep) for r in inner].count(k - 1) != m:
        return None
    joined = vsep.join(inner)
    if not joined.isascii():
        return None
    raw = np.frombuffer(joined.encode(), np.uint8)
    # number bytes and separators only, the separators in order (x-y
    # within a vertex, vertex between): two numbers per vertex
    sep = np.zeros(256, bool)
    sep[np.frombuffer((xy + vsep).encode(), np.uint8)] = True
    if not (_NUMBER | sep)[raw].all() or raw[sep[raw]].tobytes() \
            != ((xy + vsep) * (m * k))[:-len(vsep)].encode():
        return None
    flat = joined.replace(vsep, ",").replace(xy, ",")
    try:
        if fmt == "wkt":
            # a non-blank separator makes numpy read each field whole or
            # stop; a stop loses the trailing 0, even in the last. numpy
            # warns on a stop where later versions raise: both reject
            with warnings.catch_warnings():
                warnings.simplefilter("error", DeprecationWarning)
                vals = np.fromstring(flat + ",0", sep=",")[:-1]
        else:  # json's own number grammar and int -> float rule
            vals = np.array(json.loads("[" + flat + "]"), float)
    except (ValueError, OverflowError, DeprecationWarning):
        return None
    if len(vals) != 2 * m * k or not np.isfinite(vals).all():
        return None
    xyk = vals.reshape(m, k, 2)
    if fmt == "geojson" and typ == "Polygon" \
            and not (xyk[:, 0] == xyk[:, -1]).all():
        return None   # from_geojson closes an open ring
    coords = np.full((n, k, 2), np.nan)
    coords[np.flatnonzero(valid)[[v != empty for v in body]] if ne
           else valid] = xyk
    return Batch(coords, valid, typ, None)


def format_text(b: Batch, fmt: str) -> List[Optional[str]]:
    """Each row of ``b`` as ``fmt`` text ("wkt" or "geojson"), byte for
    byte what ``wkt.to_wkt`` / ``geojson.to_geojson`` write for it: a
    point with a NaN x is POINT EMPTY, any other non-finite coordinate
    raises as ``wkt.fmt_num`` does; None on NULL rows."""
    pre, suf, xy, vsep, empty = _TEXT[fmt, b.typ]
    full = b.valid & ~np.isnan(b.x) if b.typ == "Point" \
        else b.valid & (b.k > 0)
    # one f-string per value: pandas string ops over object arrays
    # measured 2x slower inside Spark's concurrent Python workers
    nums = map(fmt_num, b.coords[full].ravel().tolist())
    if b.k <= 1:
        texts = [f"{pre}{x}{xy}{y}{suf}" for x, y in zip(nums, nums)]
    else:
        verts = [f"{x}{xy}{y}" for x, y in zip(nums, nums)]
        texts = [pre + vsep.join(verts[i:i + b.k]) + suf
                 for i in range(0, len(verts), b.k)]
    if full.all():
        return texts
    out = np.where(b.valid, empty, None)
    out[full] = np.array(texts, dtype=object)
    return out.tolist()


# ------------------------------------------------------------ predicates

EPS = 1e-12


def points_equal_xy(b: Batch, px: float, py: float) -> np.ndarray:
    return (np.abs(b.x - px) <= EPS) & (np.abs(b.y - py) <= EPS)


def points_in_ring(b: Batch, ring: Sequence[Tuple[float, float]]) -> np.ndarray:
    """Vectorized point-in-polygon (single ring, boundary-inclusive):
    ray cast + on-edge check, looping over edges (few) not points (many)."""
    x, y = b.x, b.y
    inside = np.zeros(len(x), dtype=bool)
    on_edge = np.zeros(len(x), dtype=bool)
    for i in range(len(ring) - 1):
        (ax, ay), (bx, by) = ring[i], ring[i + 1]
        on_edge |= _on_segment_arr(x, y, ax, ay, bx, by)
        crosses = (ay > y) != (by > y)
        with np.errstate(invalid="ignore", divide="ignore"):
            xint = ax + (y - ay) * (bx - ax) / (by - ay)
        inside ^= crosses & (x < xint)
    return inside | on_edge


def point_on_uniform_lines(lb: Batch, px: float, py: float) -> np.ndarray:
    """Vectorized: does the literal point lie on each linestring? Loops
    over the (few) segments, vectorized over rows."""
    c = lb.coords
    out = np.zeros(lb.n, dtype=bool)
    for s in range(lb.k - 1):
        out |= _on_segment_arr(px, py, c[:, s, 0], c[:, s, 1],
                               c[:, s + 1, 0], c[:, s + 1, 1])
    return out


def bounds(c: np.ndarray) -> Tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Per-row (xmin, ymin, xmax, ymax) of (n, k, 2) coordinates, k >= 1
    (NaN on a decoded batch's NULL rows)."""
    return (c[:, :, 0].min(axis=1), c[:, :, 1].min(axis=1),
            c[:, :, 0].max(axis=1), c[:, :, 1].max(axis=1))


def envelopes(values: Sequence) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per row: the envelope (an (n, 4) array of xmin, ymin, xmax, ymax),
    a non-degenerate flag and a fixed-layout flag. Rows are grouped by
    (length, first 5 bytes) and each group goes through ``decode``, so a
    mixed batch of fixed layouts needs no other codec. A row of a group
    in no fixed layout (multi-ring, multi-part, big-endian, Z/M, mixed
    SRIDs) and a NULL row have a NaN envelope; a fixed-layout row has
    ``bounds`` of its vertices (NaN for POINT EMPTY). Non-degenerate: the
    envelope is finite and the row is a point, a line whose envelope has
    extent, or a closed ring whose shoelace area is not zero."""
    n = len(values)
    env = np.full((n, 4), np.nan)
    solid = np.zeros(n, bool)
    fixed = np.zeros(n, bool)
    b = decode(values)
    if b is not None:   # one layout: the batch is the only group
        by_typ = {b.typ: [(np.arange(n), b)]} if b.k else {}
    else:
        groups: dict = {}
        for i, v in enumerate(values):
            if v is not None and v == v:
                groups.setdefault((len(v), bytes(v[:5])), []).append(i)
        by_typ = {}
        for rows in groups.values():
            b = decode([values[i] for i in rows])
            if b is not None and b.k:
                by_typ.setdefault(b.typ, []).append((rows, b))
    for typ, part in by_typ.items():
        # one pass per type: each group padded to the longest with its
        # last vertex, which moves no bound and adds no shoelace term
        k = max(b.k for _, b in part)
        rows = np.concatenate([r for r, _ in part])
        c = np.empty((len(rows), k, 2))
        o = 0
        for r, b in part:
            c[o:o + len(r), :b.k] = b.coords
            c[o:o + len(r), b.k:] = b.coords[:, -1:]
            o += len(r)
        e = np.stack(bounds(c), axis=1)
        env[rows] = e
        fixed[rows] = np.concatenate([b.valid for _, b in part])
        if typ == "Point":
            solid[rows] = True
        elif typ == "LineString":
            solid[rows] = (e[:, 2] > e[:, 0]) | (e[:, 3] > e[:, 1])
        else:
            x, y = c[:, :, 0], c[:, :, 1]
            with np.errstate(invalid="ignore", over="ignore"):  # inf rows
                area2 = (x[:, :-1] * y[:, 1:]
                         - x[:, 1:] * y[:, :-1]).sum(axis=1)
            solid[rows] = ((area2 != 0) & np.isfinite(area2)
                           & (c[:, 0] == c[:, -1]).all(axis=1))
    solid &= np.isfinite(env).all(axis=1)
    return env, solid, fixed


def _on_segment_arr(px, py, ax, ay, bx, by) -> np.ndarray:
    """Vectorized algos._on_segment: p on closed segment ab."""
    cross = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
    scale = 1.0 + np.abs(px) + np.abs(py)
    return ((np.abs(cross) <= EPS * scale)
            & (px >= np.minimum(ax, bx) - EPS) & (px <= np.maximum(ax, bx) + EPS)
            & (py >= np.minimum(ay, by) - EPS) & (py <= np.maximum(ay, by) + EPS))


def _segments_intersect_arr(ax, ay, bx, by, cx, cy, dx, dy) -> np.ndarray:
    """Vectorized algos.segments_intersect over row-aligned segment
    arrays: closed segments ab and cd share at least one point."""
    o1 = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
    o2 = (bx - ax) * (dy - ay) - (by - ay) * (dx - ax)
    o3 = (dx - cx) * (ay - cy) - (dy - cy) * (ax - cx)
    o4 = (dx - cx) * (by - cy) - (dy - cy) * (bx - cx)
    proper = (((o1 > 0) != (o2 > 0)) & ((o3 > 0) != (o4 > 0))
              & (np.abs(o1) > EPS) & (np.abs(o2) > EPS)
              & (np.abs(o3) > EPS) & (np.abs(o4) > EPS))
    touch = (_on_segment_arr(cx, cy, ax, ay, bx, by)
             | _on_segment_arr(dx, dy, ax, ay, bx, by)
             | _on_segment_arr(ax, ay, cx, cy, dx, dy)
             | _on_segment_arr(bx, by, cx, cy, dx, dy))
    return proper | touch


def lines_intersect_lines(la: Batch, lb: Batch,
                          ia: Optional[np.ndarray] = None,
                          ib: Optional[np.ndarray] = None) -> np.ndarray:
    """Vectorized ST_Intersects between two linestring batches, row by
    row or, given ``ia``/``ib``, for the pairs (la[ia[t]], lb[ib[t]]) —
    replicates algos.intersects for the LineString×LineString case
    (bbox reject, then any segment pair intersects). Loops over the
    (few) segment-index pairs, vectorized over the (many) rows."""
    ca = la.coords if ia is None else la.coords[ia]
    cb = lb.coords if ib is None else lb.coords[ib]
    axmin, aymin, axmax, aymax = bounds(ca)
    bxmin, bymin, bxmax, bymax = bounds(cb)
    disjoint = ((axmax < bxmin - EPS) | (bxmax < axmin - EPS)
                | (aymax < bymin - EPS) | (bymax < aymin - EPS))
    out = np.zeros(len(ca), dtype=bool)
    for i in range(la.k - 1):
        for j in range(lb.k - 1):
            out |= _segments_intersect_arr(
                ca[:, i, 0], ca[:, i, 1], ca[:, i + 1, 0], ca[:, i + 1, 1],
                cb[:, j, 0], cb[:, j, 1], cb[:, j + 1, 0], cb[:, j + 1, 1])
    return out & ~disjoint


# ------------------------------------------------------------ rectangles

def rectangles(b: Optional[Batch]) -> Optional[Tuple[np.ndarray, ...]]:
    """Corners (x0, y0, x1, y1) per row when every non-NULL row of ``b``
    is an axis-aligned rectangle: a finite, closed 5-vertex ring in any
    vertex order or orientation, strictly non-degenerate (degenerate
    rings fall back to the object path); NaN on NULL rows. None when
    ``b`` is None or holds any other shape."""
    if b is None or b.typ != "Polygon" or b.k != 5:
        return None
    c = b.coords
    xs, ys = c[:, :4, 0], c[:, :4, 1]
    x0, x1 = xs.min(axis=1), xs.max(axis=1)
    y0, y1 = ys.min(axis=1), ys.max(axis=1)
    # finite, closed ring, strictly non-degenerate
    ok = (np.isfinite(c).all(axis=(1, 2))
          & (c[:, 4, 0] == c[:, 0, 0]) & (c[:, 4, 1] == c[:, 0, 1])
          & (x0 < x1) & (y0 < y1))
    # every vertex on a corner, each extreme hit exactly twice
    on_x = (xs == x0[:, None]) | (xs == x1[:, None])
    on_y = (ys == y0[:, None]) | (ys == y1[:, None])
    ok &= on_x.all(axis=1) & on_y.all(axis=1)
    ok &= ((xs == x0[:, None]).sum(axis=1) == 2) \
        & ((ys == y0[:, None]).sum(axis=1) == 2)
    # axis-aligned steps, no repeated vertices
    dx = c[:, 1:, 0] - c[:, :-1, 0]
    dy = c[:, 1:, 1] - c[:, :-1, 1]
    ok &= ((dx == 0) | (dy == 0)).all(axis=1)
    ok &= ((dx != 0) | (dy != 0)).all(axis=1)
    if not (ok | ~b.valid).all():
        return None
    return x0, y0, x1, y1


def box_pair_classes(a: Tuple[np.ndarray, ...],
                     b: Tuple[np.ndarray, ...]) -> np.ndarray:
    """Topology-class code per row for a pair of ``rectangles`` results:
    the Allen interval relation of (a, b) in x and in y, encoded as the
    base-3 digits of the four boundary comparisons per axis. Any
    point-set predicate of two axis-aligned rectangles is constant
    within a class, so kernels evaluate one representative pair per
    distinct code (rows NULL on either side get code -1)."""
    def axis(a0, a1, b0, b1):
        return ((np.sign(a0 - b0).astype(np.int64) + 1) * 27
                + (np.sign(a0 - b1).astype(np.int64) + 1) * 9
                + (np.sign(a1 - b0).astype(np.int64) + 1) * 3
                + (np.sign(a1 - b1).astype(np.int64) + 1))
    valid = ~np.isnan(a[0]) & ~np.isnan(b[0])
    code = np.full(len(valid), -1, dtype=np.int64)
    if valid.any():
        xa0, ya0, xa1, ya1 = (v[valid] for v in a)
        xb0, yb0, xb1, yb1 = (v[valid] for v in b)
        code[valid] = (axis(xa0, xa1, xb0, xb1) * 81
                       + axis(ya0, ya1, yb0, yb1))
    return code
