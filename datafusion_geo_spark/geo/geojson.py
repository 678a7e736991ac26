"""GeoJSON (RFC 7946) geometry reader/writer.

``to_geojson`` is the ST_AsGeoJSON serializer (reference
as_geojson.rs:88-110); ``from_geojson`` reads it back. The reference
only SERIALIZES GeoJSON — parsing is a PostGIS-parity extension
(``ST_GeomFromGeoJSON``) an ingest pipeline needs.

Semantics follow PostGIS ST_GeomFromGeoJSON:
  * geometry objects only — a Feature / FeatureCollection raises (the
    caller extracts ``.geometry`` / iterates features first);
  * a coordinate position may carry a third (elevation) element — this
    engine is XY-only (geom.py module docstring), so it is dropped;
  * empty ``coordinates`` arrays produce the matching empty geometry;
  * unclosed polygon rings are closed (Geometry.polygon semantics);
  * an optional ``crs`` member of the legacy
    ``{"type":"name","properties":{"name":"EPSG:<n>"}}`` form sets the
    SRID (RFC 7946 dropped crs; PostGIS still honors it).
"""

from __future__ import annotations

import json
import re
from math import isfinite
from typing import Optional

from .geom import Geometry
from .wkt import fmt_num

_SRID_RE = re.compile(r"(?:urn:ogc:def:crs:EPSG::|EPSG:)(\d+)$", re.I)

_GEOM_TYPES = ("Point", "LineString", "Polygon", "MultiPoint",
               "MultiLineString", "MultiPolygon", "GeometryCollection")


def _pos(c) -> tuple:
    """One coordinate position: [x, y] or [x, y, z] (z dropped); x and y
    must be finite (``json`` reads ``NaN``, ``Infinity`` and ``1e400``
    as non-finite floats, which ``to_geojson`` could not print)."""
    if (not isinstance(c, (list, tuple)) or len(c) < 2
            or not all(isinstance(v, (int, float)) and not isinstance(v, bool)
                       for v in c[:2])):
        raise ValueError(f"invalid GeoJSON coordinate position: {c!r}")
    x, y = float(c[0]), float(c[1])
    if not (isfinite(x) and isfinite(y)):
        raise ValueError(f"non-finite GeoJSON coordinate: {c!r}")
    return (x, y)


def _seq(x, what: str):
    """A nested coordinate level must be an array — a null/scalar/object
    member raises ValueError instead of leaking a TypeError."""
    if not isinstance(x, (list, tuple)):
        raise ValueError(f"invalid GeoJSON {what}: {x!r}")
    return x


def _ring(r) -> list:
    if not isinstance(r, (list, tuple)):
        raise ValueError(f"invalid GeoJSON ring: {r!r}")
    ring = [_pos(c) for c in r]
    if ring and ring[0] != ring[-1]:
        ring.append(ring[0])
    return ring


def _crs_srid(obj: dict) -> Optional[int]:
    crs = obj.get("crs")
    if not isinstance(crs, dict):
        return None
    props = crs.get("properties")
    if not isinstance(props, dict):  # a truthy non-dict must not crash
        props = {}
    name = props.get("name", "")
    m = _SRID_RE.search(str(name))
    if not m:
        raise ValueError(f"unsupported GeoJSON crs: {name!r}")
    return int(m.group(1))


def _geometry(obj) -> Geometry:
    if not isinstance(obj, dict):
        raise ValueError(f"GeoJSON geometry must be an object, got {obj!r}")
    t = obj.get("type")
    if t in ("Feature", "FeatureCollection"):
        raise ValueError(
            f"GeoJSON {t} is not a geometry — extract its 'geometry' "
            f"member (PostGIS ST_GeomFromGeoJSON raises here too)")
    if t not in _GEOM_TYPES:
        raise ValueError(f"unknown GeoJSON geometry type: {t!r}")
    if t == "GeometryCollection":
        subs = obj.get("geometries")
        if not isinstance(subs, (list, tuple)):
            raise ValueError("GeometryCollection needs a 'geometries' array")
        return Geometry("GeometryCollection", [_geometry(s) for s in subs])
    c = obj.get("coordinates")
    if not isinstance(c, (list, tuple)):
        raise ValueError(f"{t} needs a 'coordinates' array")
    if t == "Point":
        return Geometry("Point", _pos(c) if len(c) else None)
    if t in ("LineString", "MultiPoint"):
        return Geometry(t, [_pos(p) for p in c])
    if t == "Polygon":
        return Geometry(t, [_ring(r) for r in c])
    if t == "MultiLineString":
        return Geometry(t, [[_pos(p) for p in _seq(line, "linestring")]
                            for line in c])
    # MultiPolygon
    return Geometry(t, [[_ring(r) for r in _seq(poly, "polygon")]
                        for poly in c])


def from_geojson(s: str) -> Geometry:
    """Parse a GeoJSON geometry string → Geometry (with SRID when a
    legacy ``crs`` member names an EPSG code)."""
    try:
        obj = json.loads(s)
    except json.JSONDecodeError as e:
        raise ValueError(f"invalid GeoJSON: {e}") from None
    except RecursionError:
        # json.loads itself recurses per nesting level — a deep
        # nesting bomb must fail the row, not the task
        raise ValueError("invalid GeoJSON: nesting too deep") from None
    try:
        g = _geometry(obj)
    except RecursionError:
        # nested-GeometryCollection bomb: fail the row, not the task
        raise ValueError("invalid GeoJSON: nesting too deep") from None
    srid = _crs_srid(obj) if isinstance(obj, dict) else None
    return g.with_srid(srid) if srid is not None else g


def to_geojson(g: Geometry) -> str:
    """GeoJSON fragment — ST_AsGeoJSON (reference as_geojson.rs:88-110).
    Compact separators, key order type→coordinates, numbers via fmt_num
    (oracle-reproducible)."""
    def coords(c):
        return "[" + fmt_num(c[0]) + "," + fmt_num(c[1]) + "]"

    def arr(items):
        return "[" + ",".join(items) + "]"

    t, p = g.typ, g.parts
    if t == "Point":
        body = coords(p) if p is not None else "[]"
    elif t in ("LineString", "MultiPoint"):
        body = arr(coords(c) for c in p)
    elif t in ("Polygon", "MultiLineString"):
        body = arr(arr(coords(c) for c in part) for part in p)
    elif t == "MultiPolygon":
        body = arr(arr(arr(coords(c) for c in ring) for ring in poly) for poly in p)
    elif t == "GeometryCollection":
        return ('{"type":"GeometryCollection","geometries":['
                + ",".join(to_geojson(sub) for sub in p) + "]}")
    else:
        raise ValueError(t)
    return '{"type":"' + t + '","coordinates":' + body + "}"
