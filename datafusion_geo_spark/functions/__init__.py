"""Public function surface: DataFrame Column functions + SQL registration.

Mirrors the reference's UDF registry (SURVEY.md §2.1: 18 scalar UDFs + 1
UDAF) and extends it, in the SQL registry ``_SQL_UDFS``, with the
PostGIS-parity measures, accessors, linear-referencing, transform,
set-operation, relate-matrix, validity, triangulation, offset/clip, and
editing utilities (SURVEY.md §8.1). Each operator exists both as a Python Column function
(``st_intersects(col, col) -> Column``) and as a SQL-registered UDF with
the reference's exact names (`register_all(spark)`) — Spark SQL function
lookup is case-insensitive, which subsumes the reference's lowercase
aliases (/root/reference/src/function/geom_from_text.rs:28).

One declaration per function: a ``def`` whose body is only its
docstring, decorated with ``@_sql(*sql_names, kernel=, rtype=)``, is the
Column function, its pandas UDF and its SQL registration at once (see
``_sql``). Its parameter annotations say how each argument is coerced:

- ``Geom``: a Column, or a Geometry / WKB bytes / WKT str literal;
- ``Double`` / ``Int``: a Column or a column-name str, cast to double /
  int, or a Python number literal cast the same way;
- ``Text``: a literal unless it is a Column.

Only functions that do more than coerce their arguments and call one
UDF are written by hand.

``st_extent`` is NOT a Python UDAF: per SURVEY.md §2.1 #19 it lowers to
built-in min/max over a Box2D struct, so Catalyst runs its own two-phase
(partial/final) hash aggregate — the Spark-native equivalent of the
reference's Accumulator lifecycle (/root/reference/src/function/extent.rs:75-128).
"""

from __future__ import annotations

import functools
import inspect
from typing import Optional, Union

import pyspark.sql.functions as F
from pyspark.sql import Column, SparkSession
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (ArrayType, BinaryType, BooleanType, DoubleType,
                               IntegerType, StringType, StructField, StructType)

from ..geo.geom import Geometry
from ..geo.wkb import to_wkb
from ..geo.wkt import from_wkt
from . import kernels

# the argument kinds of a declared function (see ``_COERCE``)
Geom = Union[Column, Geometry, bytes, str]
Double = Union[Column, str, float]
Int = Union[Column, str, int]
Text = Union[Column, str]

BOX2D_TYPE = StructType([
    StructField("xmin", DoubleType(), True),
    StructField("ymin", DoubleType(), True),
    StructField("xmax", DoubleType(), True),
    StructField("ymax", DoubleType(), True),
])


def geom_lit(g: Union[Geometry, bytes, str]) -> Column:
    """Literal geometry column from Geometry / WKB bytes / WKT text —
    the Spark analogue of the reference's scalar-argument broadcast
    (/root/reference/src/function/intersects.rs:49-60)."""
    if isinstance(g, str):
        g = from_wkt(g)
    if isinstance(g, Geometry):
        g = to_wkb(g)
    return F.lit(g)


def _geom(c: Geom) -> Column:
    if isinstance(c, Column):
        return c
    if isinstance(c, (Geometry, bytes, str)):
        return geom_lit(c)
    raise TypeError(f"expected Column/Geometry/bytes/WKT str, got {type(c)}")


def _num(c, cast: str) -> Column:
    """Numeric argument: Column passes through, str is a column NAME,
    python numbers become literals. (For geometry args a str is WKT —
    see ``_geom``.)"""
    if isinstance(c, Column):
        return c.cast(cast)
    if isinstance(c, str):
        return F.col(c).cast(cast)
    return F.lit(c).cast(cast)


#: annotation of a declared function's parameter -> its coercion
_COERCE = {
    "Geom": _geom,
    "Double": lambda v: _num(v, "double"),
    "Int": lambda v: _num(v, "int"),
    "Text": lambda v: v if isinstance(v, Column) else F.lit(v),
}


# -- pandas UDF objects (vectorized, Arrow-batched) ---------------------
# pandas_udf infers the eval type from type hints, so every kernel goes
# through one plainly-hinted wrapper (Optional[...] is not supported).

import pandas as pd  # noqa: E402


def _udf(kernel, rtype):
    """The one pandas-UDF wrapper. ``*cols`` lets Spark resolve SQL calls
    of ANY arity, which is how one SQL name serves the reference's
    optional-SRID overloads (``one_of`` signatures,
    reference geom_from_text.rs:21-27) and how a
    defaulted trailing argument may be omitted. A struct return type
    needs a DataFrame return hint; the UDF is named after its kernel,
    which is what plans show."""
    if isinstance(rtype, StructType):
        def f(*cols: pd.Series) -> pd.DataFrame:
            return kernel(*cols)
    else:
        def f(*cols: pd.Series) -> pd.Series:
            return kernel(*cols)
    f.__name__ = kernel.__name__
    return pandas_udf(f, rtype)


#: SQL name -> pandas UDF, filled by ``_sql`` and, for the SQL-only
#: names, at the end of this module; ``register_all`` registers them
_SQL_UDFS: dict = {}


def _sql(*names: str, kernel, rtype):
    """The one declaration of a function, put on a ``def`` whose body is
    only its docstring. Builds ``kernel``'s pandas UDF once (``_udf``),
    stores it in ``_SQL_UDFS`` under each of ``names`` (none for a
    Column-only function; a ``*SRID`` alias is one more name) and
    returns the Column function, which keeps the def's name, signature
    and docstring. A call is bound to that signature (defaults applied),
    trailing optional arguments (default None) still None are left out,
    so the kernel's own defaults apply as in a shorter SQL call, and
    each argument is coerced by its annotation (``_COERCE``); any other
    None is a NULL literal (``st_setsrid(g, None)`` clears the SRID)."""
    udf = _udf(kernel, rtype)
    for name in names:
        _SQL_UDFS[name] = udf

    def declare(fn):
        sig = inspect.signature(fn)
        params = list(sig.parameters.values())
        coerce = [_COERCE[p.annotation] for p in params]
        optional = [p.default is None for p in params]

        @functools.wraps(fn)
        def column_fn(*args, **kwargs) -> Column:
            bound = sig.bind(*args, **kwargs)
            bound.apply_defaults()
            vals = list(bound.arguments.values())
            while vals and vals[-1] is None and optional[len(vals) - 1]:
                vals.pop()
            return udf(*(F.lit(None) if v is None else c(v)
                         for c, v in zip(coerce, vals)))
        return column_fn
    return declare


# -- Column API ---------------------------------------------------------

@_sql("ST_GeomFromText", "ST_GeomFromTextSRID",
      kernel=kernels.geom_from_text, rtype=BinaryType())
def st_geomfromtext(wkt: Text, srid: Int = None) -> Column:
    """#1 ST_GeomFromText (/root/reference/src/function/geom_from_text.rs:13-81)."""


@_sql("ST_GeomFromGeoJSON",
      kernel=kernels.geom_from_geojson, rtype=BinaryType())
def st_geomfromgeojson(geojson: Text) -> Column:
    """PostGIS-parity ST_GeomFromGeoJSON: GeoJSON geometry text → (E)WKB
    (geo/geojson.py). Inverse of st_asgeojson; the reference only
    serializes (/root/reference/src/function/as_geojson.rs:88-110)."""


@_sql("ST_GeomFromWKB", "ST_GeomFromWKBSRID",
      kernel=kernels.geom_from_wkb, rtype=BinaryType())
def _geomfromwkb(wkb: Geom, srid: Int = None) -> Column:
    """st_geomfromwkb without a dialect."""


# one crossing: the dialect kernel stamps the SRID on the decoded
# geometry directly instead of a second full re-parse
@_sql("ST_GeomFromWKBDialect",
      kernel=kernels.geom_from_wkb_dialect, rtype=BinaryType())
def _geomfromwkb_dialect(wkb: Geom, dialect: Text,
                         srid: Int = None) -> Column:
    """st_geomfromwkb with a dialect."""


def st_geomfromwkb(wkb: Column, srid: Optional[Union[Column, int]] = None,
                   dialect: Optional[str] = None) -> Column:
    """#2 ST_GeomFromWKB (/root/reference/src/function/geom_from_wkb.rs:13-81).

    ``dialect`` ingests foreign blob encodings the reference decodes via
    its per-blob tag byte (/root/reference/src/geo/dialect.rs:5-29):
    'geopackage', 'spatialite', 'mysql', 'tagged' (the reference's own
    tag-prefixed storage), or 'auto' (framing sniff; cannot detect
    MySQL's bare-int prefix). Output is always canonical (E)WKB."""
    if isinstance(wkb, str):
        wkb = F.col(wkb)   # the blob column's name, not WKT
    if dialect is None:
        return _geomfromwkb(wkb, srid)
    return _geomfromwkb_dialect(wkb, str(dialect), srid)


@_sql("ST_AsText", kernel=kernels.as_text, rtype=StringType())
def st_astext(g: Geom) -> Column:
    """#3 ST_AsText (/root/reference/src/function/as_text.rs:13-110)."""


@_sql("ST_AsEWKT", kernel=kernels.as_ewkt, rtype=StringType())
def st_asewkt(g: Geom) -> Column:
    """#4 ST_AsEWKT (/root/reference/src/function/as_ewkt.rs:13-101)."""


@_sql("ST_AsGeoJSON", kernel=kernels.as_geojson, rtype=StringType())
def st_asgeojson(g: Geom) -> Column:
    """#5 ST_AsGeoJSON (/root/reference/src/function/as_geojson.rs:13-110)."""


@_sql("ST_GeometryType", kernel=kernels.geometry_type, rtype=StringType())
def st_geometrytype(g: Geom) -> Column:
    """#6 ST_GeometryType (/root/reference/src/function/geometry_type.rs:10-92)."""


@_sql("Box2D", kernel=kernels.box2d_rows, rtype=BOX2D_TYPE)
def box2d(g: Geom) -> Column:
    """#7 Box2D → struct{xmin,ymin,xmax,ymax}
    (/root/reference/src/function/box2d.rs:11-82)."""


@_sql("ST_MakeEnvelope", "ST_MakeEnvelopeSRID",
      kernel=kernels.make_envelope, rtype=BinaryType())
def st_makeenvelope(xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                    srid: Int = None) -> Column:
    """#8 ST_MakeEnvelope (/root/reference/src/function/make_envelope.rs:11-110)."""


@_sql("ST_Intersects", kernel=kernels.intersects, rtype=BooleanType())
def st_intersects(a: Geom, b: Geom) -> Column:
    """#9 ST_Intersects (/root/reference/src/function/intersects.rs:13-132)."""


@_sql("ST_Disjoint", kernel=kernels.disjoint, rtype=BooleanType())
def st_disjoint(a: Geom, b: Geom) -> Column:
    """NOT ST_Intersects, with the same fast paths (PostGIS
    ST_Disjoint; beyond-reference utility)."""


@_sql("ST_Covers", kernel=kernels.covers, rtype=BooleanType())
def st_covers(a: Geom, b: Geom) -> Column:
    """#10 ST_Covers (/root/reference/src/function/covers.rs:15-122)."""


@_sql("ST_CoveredBy", kernel=kernels.covered_by, rtype=BooleanType())
def st_coveredby(a: Geom, b: Geom) -> Column:
    """#11 ST_CoveredBy (/root/reference/src/function/covered_by.rs:14-121)."""


@_sql("ST_Equals", kernel=kernels.equals, rtype=BooleanType())
def st_equals(a: Geom, b: Geom) -> Column:
    """#12 ST_Equals — topological (/root/reference/src/function/equals.rs:15-122)."""


@_sql("ST_Translate", kernel=kernels.translate, rtype=BinaryType())
def st_translate(g: Geom, dx: Double, dy: Double) -> Column:
    """#13 ST_Translate (/root/reference/src/function/translate.rs:11-103)."""


@_sql("ST_Buffer", kernel=kernels.buffer, rtype=BinaryType())
def st_buffer(g: Geom, width: Double, quadsegs: Int = 8) -> Column:
    """#14 ST_Buffer (/root/reference/src/function/buffer.rs:14-104)."""


@_sql("ST_Boundary", kernel=kernels.boundary, rtype=BinaryType())
def st_boundary(g: Geom) -> Column:
    """#15 ST_Boundary (/root/reference/src/function/boundary.rs:14-87)."""


@_sql("ST_Split", kernel=kernels.split, rtype=BinaryType())
def st_split(g: Geom, blade: Geom) -> Column:
    """#16 ST_Split — PostGIS semantics, not the reference's broken kernel
    (/root/reference/src/function/split.rs:148)."""


@_sql("ST_SRID", kernel=kernels.srid, rtype=IntegerType())
def st_srid(g: Geom) -> Column:
    """#17 ST_SRID (/root/reference/src/function/srid.rs:11-72)."""


@_sql("ST_SetSRID", kernel=kernels.set_srid, rtype=BinaryType())
def st_setsrid(g: Geom, srid: Int) -> Column:
    """ST_SetSRID (PostGIS pair of #17 ST_SRID): stamp or clear the
    EWKB SRID header; NULL/<=0 clears (see kernels.set_srid)."""


@_sql("ST_AsMVTGeom", kernel=kernels.as_mvt_geom, rtype=BinaryType())
def st_asmvtgeom(g: Geom, xmin: Double, ymin: Double, xmax: Double,
                 ymax: Double) -> Column:
    """#18 ST_AsMVTGeom (/root/reference/src/function/as_mvt_geom.rs:13-102).
    The reference signature takes (geom, Box2d); pass the box as four
    doubles or a Box2D struct column via ``st_asmvtgeom_box``."""


def st_asmvtgeom_box(g: Geom, box: Column) -> Column:
    """#18 variant taking a Box2D struct column (matches the reference's
    (geom, Box2d) signature exactly)."""
    return st_asmvtgeom(g, box["xmin"], box["ymin"], box["xmax"], box["ymax"])


@_sql("ST_NPoints", kernel=kernels.npoints, rtype=IntegerType())
def st_npoints(g: Geom) -> Column:
    """Vertex count (PostGIS ST_NPoints; beyond-reference utility)."""


@_sql("ST_Area", kernel=kernels.area, rtype=DoubleType())
def st_area(g: Geom) -> Column:
    """Planar area (PostGIS ST_Area; beyond-reference utility —
    shells minus holes, 0 for points/lines)."""


@_sql("ST_Point", kernel=kernels.st_point, rtype=BinaryType())
def st_point(x: Double, y: Double) -> Column:
    """Fast point constructor (PostGIS ST_Point; no direct reference
    analogue — used to derive fixture geometry, FIXTURES.md §2)."""


@_sql("ST_Length", kernel=kernels.length, rtype=DoubleType())
def st_length(g: Geom) -> Column:
    """Line length (PostGIS ST_Length; beyond-reference utility —
    0 for points/polygons, see st_perimeter)."""


@_sql("ST_Perimeter", kernel=kernels.perimeter, rtype=DoubleType())
def st_perimeter(g: Geom) -> Column:
    """Polygon ring length incl. holes (PostGIS ST_Perimeter;
    beyond-reference utility)."""


@_sql("ST_Centroid", kernel=kernels.centroid, rtype=BinaryType())
def st_centroid(g: Geom) -> Column:
    """Centroid of the highest-dimension components (PostGIS/GEOS
    ST_Centroid; beyond-reference utility)."""


@_sql("ST_Envelope", kernel=kernels.envelope, rtype=BinaryType())
def st_envelope(g: Geom) -> Column:
    """Bounding box as a geometry, with PostGIS degenerate forms
    (POINT / LINESTRING for collapsed extents; ST_Envelope;
    beyond-reference utility)."""


@_sql("ST_ConvexHull", kernel=kernels.convex_hull, rtype=BinaryType())
def st_convexhull(g: Geom) -> Column:
    """Convex hull with GEOS degenerate semantics, canonical-CCW shell
    (PostGIS ST_ConvexHull; beyond-reference utility)."""


@_sql("ST_Simplify", kernel=kernels.simplify, rtype=BinaryType())
def st_simplify(g: Geom, tolerance: Double) -> Column:
    """Douglas-Peucker simplification, non-topology-preserving
    (PostGIS ST_Simplify; beyond-reference utility)."""


@_sql("ST_LineInterpolatePoint",
      kernel=kernels.line_interpolate_point, rtype=BinaryType())
def st_lineinterpolatepoint(g: Geom, fraction: Double) -> Column:
    """Point at ``fraction`` of a LINESTRING's length, clamped to [0,1]
    (PostGIS ST_LineInterpolatePoint; beyond-reference utility)."""


@_sql("ST_GeoHash", kernel=kernels.st_geohash, rtype=StringType())
def st_geohash(g: Geom, precision: Int = 0) -> Column:
    """Base-32 geohash of a lon/lat POINT (PostGIS ST_GeoHash;
    beyond-reference utility) — THE cheap spatial bucketing key for
    equi-join/group-by pipelines. precision <= 0 (the default, PostGIS
    parity) means full precision (20 chars)."""


@_sql("ST_Azimuth", kernel=kernels.st_azimuth, rtype=DoubleType())
def st_azimuth(a: Geom, b: Geom) -> Column:
    """Clockwise angle from north of a->b in [0, 2*pi); NULL for
    coincident points (PostGIS ST_Azimuth; beyond-reference)."""


@_sql("ST_ClosestPoint", kernel=kernels.closest_point, rtype=BinaryType())
def st_closestpoint(a: Geom, b: Geom) -> Column:
    """The point ON a nearest to b — the witness of st_distance
    (PostGIS ST_ClosestPoint; beyond-reference utility)."""


@_sql("ST_Contains", kernel=kernels.st_contains, rtype=BooleanType())
def st_contains(a: Geom, b: Geom) -> Column:
    """ST_Contains (PostGIS/DE-9IM; beyond-reference): covers + the
    interiors actually meet — a geometry does not contain its boundary
    (geo/relate.py)."""


@_sql("ST_Within", kernel=kernels.st_within, rtype=BooleanType())
def st_within(a: Geom, b: Geom) -> Column:
    """ST_Within — converse of st_contains (PostGIS; beyond-reference)."""


@_sql("ST_Touches", kernel=kernels.st_touches, rtype=BooleanType())
def st_touches(a: Geom, b: Geom) -> Column:
    """ST_Touches: intersect at boundaries only (PostGIS;
    beyond-reference)."""


@_sql("ST_Overlaps", kernel=kernels.st_overlaps, rtype=BooleanType())
def st_overlaps(a: Geom, b: Geom) -> Column:
    """ST_Overlaps: same-dimension partial interior overlap, neither
    covering the other (PostGIS; beyond-reference)."""


@_sql("ST_Crosses", kernel=kernels.st_crosses, rtype=BooleanType())
def st_crosses(a: Geom, b: Geom) -> Column:
    """ST_Crosses: interiors meet in a lower dimension — lines crossing
    at points, a line passing through a polygon, a point set split
    across b (PostGIS; beyond-reference)."""


@_sql("ST_MaxDistance", kernel=kernels.st_max_distance, rtype=DoubleType())
def st_maxdistance(a: Geom, b: Geom) -> Column:
    """PostGIS ST_MaxDistance: largest distance between the two
    geometries (attained at a vertex pair)."""


@_sql("ST_LongestLine", kernel=kernels.st_longest_line, rtype=BinaryType())
def st_longestline(a: Geom, b: Geom) -> Column:
    """PostGIS ST_LongestLine: the max-distance witness pair as a
    LINESTRING (deterministic smallest-pair tie-break)."""


@_sql("ST_BuildArea", kernel=kernels.st_build_area, rtype=BinaryType())
def st_buildarea(g: Geom) -> Column:
    """PostGIS ST_BuildArea: areal geometry from closed linework —
    even-odd nesting (enclosed faces become holes), dangling edges
    ignored, shared edges dissolved (geo/noding.py)."""


@_sql("ST_GeometricMedian",
      kernel=kernels.st_geometric_median, rtype=BinaryType())
def st_geometricmedian(g: Geom) -> Column:
    """PostGIS ST_GeometricMedian over (multi)points: Weiszfeld
    iteration, fixed 8 rounds with 9-dp rounded iterates
    (deterministic; geo/metrics.py)."""


@_sql("ST_AzimuthSphere", kernel=kernels.st_azimuth_sphere, rtype=DoubleType())
def st_azimuthsphere(a: Geom, b: Geom) -> Column:
    """Initial great-circle bearing a->b, radians clockwise from north
    (geography twin of ST_Azimuth; geo/proj.py)."""


@_sql("ST_ProjectSphere", kernel=kernels.st_project_sphere, rtype=BinaryType())
def st_projectsphere(g: Geom, distance_m: Double, azimuth: Double) -> Column:
    """Geography ST_Project: destination point dist meters along the
    great circle at the given initial bearing (mean-radius sphere)."""


@_sql("ST_ProjectSpheroid",
      kernel=kernels.st_project_spheroid, rtype=BinaryType())
def st_projectspheroid(g: Geom, distance_m: Double,
                       azimuth: Double) -> Column:
    """Spheroid ST_Project (geography default): destination point
    dist meters along the WGS84 geodesic at the given initial bearing
    — Vincenty direct problem, deterministic fixed iterations
    (geo/proj.py vincenty_direct); the ellipsoidal twin of
    st_projectsphere."""


@_sql("ST_IsEmpty", kernel=kernels.st_is_empty, rtype=BooleanType())
def st_isempty(g: Geom) -> Column:
    """PostGIS ST_IsEmpty."""


@_sql("ST_Dimension", kernel=kernels.st_dimension, rtype=IntegerType())
def st_dimension(g: Geom) -> Column:
    """PostGIS ST_Dimension: topological dimension (max over members;
    0 for empty, matching PostGIS's 0-for-POINT convention)."""


@_sql("ST_ExteriorRing", kernel=kernels.st_exterior_ring, rtype=BinaryType())
def st_exteriorring(g: Geom) -> Column:
    """PostGIS ST_ExteriorRing: polygon shell as a LINESTRING; NULL
    for non-polygons."""


@_sql("ST_InteriorRingN",
      kernel=kernels.st_interior_ring_n, rtype=BinaryType())
def st_interiorringn(g: Geom, n: Int) -> Column:
    """PostGIS ST_InteriorRingN (1-based); NULL out of range."""


@_sql("ST_NumInteriorRings",
      kernel=kernels.st_num_interior_rings, rtype=IntegerType())
def st_numinteriorrings(g: Geom) -> Column:
    """PostGIS ST_NumInteriorRings; NULL for non-polygons."""


@_sql("ST_BoundingDiagonal",
      kernel=kernels.st_bounding_diagonal, rtype=BinaryType())
def st_boundingdiagonal(g: Geom) -> Column:
    """PostGIS ST_BoundingDiagonal: the bbox min->max corner
    LINESTRING (LINESTRING EMPTY for empty input)."""


@_sql("ST_TileEnvelope", kernel=kernels.st_tile_envelope, rtype=BinaryType())
def st_tileenvelope(z: Int, x: Int, y: Int) -> Column:
    """PostGIS ST_TileEnvelope: XYZ web-mercator tile bounds as a
    POLYGON stamped SRID 3857; NULL for out-of-range tiles."""


@_sql("ST_Normalize", kernel=kernels.st_normalize, rtype=BinaryType())
def st_normalize(g: Geom) -> Column:
    """ST_Normalize (documented canonical form, geo/edit.py): shells
    CCW / holes CW at canonical starts, lines from their smaller
    endpoint, sorted multi-members. Idempotent; equality-after-
    normalize compares point sets."""


@_sql("ST_DistanceSphere",
      kernel=kernels.st_distance_sphere, rtype=DoubleType())
def st_distancesphere(a: Geom, b: Geom) -> Column:
    """PostGIS ST_DistanceSphere: great-circle meters between POINT
    lon/lat geometries (haversine on the mean-radius sphere,
    geo/proj.py). For the JVM-native scale path over raw lon/lat
    DOUBLE columns, inline the same formula with pyspark.sql.functions
    trig — this kernel is the geometry-typed convenience."""


@_sql("ST_DistanceSpheroid",
      kernel=kernels.st_distance_spheroid, rtype=DoubleType())
def st_distancespheroid(a: Geom, b: Geom) -> Column:
    """PostGIS ST_DistanceSpheroid (WGS84): ellipsoidal geodesic
    meters between POINT lon/lat geometries — Vincenty inverse with a
    deterministic fixed iteration count (geo/proj.py vincenty_m), the
    geography-ST_Distance-default twin of st_distancesphere (which
    underestimates by up to ~0.5% on the sphere)."""


@_sql("ST_AreaSphere", kernel=kernels.st_area_sphere, rtype=DoubleType())
def st_areasphere(g: Geom) -> Column:
    """Geography ST_Area twin: polygon area in m² on the mean-radius
    sphere (JPL edge-sum formula, geo/proj.py sphere_area_m2); holes
    subtracted, non-areal parts 0."""


@_sql("ST_LengthSphere", kernel=kernels.st_length_sphere, rtype=DoubleType())
def st_lengthsphere(g: Geom) -> Column:
    """Geography ST_Length twin: great-circle line length in meters
    (haversine per segment, geo/proj.py sphere_length_m); areal and
    puntal parts 0."""


@_sql("ST_PerimeterSphere",
      kernel=kernels.st_perimeter_sphere, rtype=DoubleType())
def st_perimetersphere(g: Geom) -> Column:
    """Geography ST_Perimeter twin: great-circle ring length in meters
    over shells and holes (geo/proj.py sphere_perimeter_m)."""


@_sql("ST_OffsetCurve", kernel=kernels.st_offset_curve, rtype=BinaryType())
def st_offsetcurve(g: Geom, d: Double, quadsegs: Int = None) -> Column:
    """PostGIS ST_OffsetCurve: one-sided parallel of a (Multi)LineString
    — positive d left, negative d right with reversed output. Round
    outward joins, trimmed inward joins (geo/offset.py)."""


@_sql("ST_SharedPaths", kernel=kernels.st_shared_paths, rtype=BinaryType())
def st_sharedpaths(a: Geom, b: Geom) -> Column:
    """PostGIS ST_SharedPaths: GC of (same-direction, opposite-
    direction) collinear-overlap MULTILINESTRINGs."""


@_sql("ST_ClipByBox2D", kernel=kernels.st_clip_by_box, rtype=BinaryType())
def st_clipbybox2d(g: Geom, xmin: Double, ymin: Double, xmax: Double,
                   ymax: Double) -> Column:
    """PostGIS ST_ClipByBox2D: overlay intersection with an axis-
    aligned rectangle (exact ST_Intersection semantics)."""


@_sql("ST_MaxInscribedCenter",
      kernel=kernels.st_max_inscribed_center, rtype=BinaryType())
def st_maxinscribedcenter(g: Geom) -> Column:
    """Center of PostGIS ST_MaximumInscribedCircle (polylabel quadtree
    refinement, geo/bounding.py). Split across two functions like the
    min-bounding pair — Spark SQL UDFs return one column."""


@_sql("ST_MaxInscribedRadius",
      kernel=kernels.st_max_inscribed_radius, rtype=DoubleType())
def st_maxinscribedradius(g: Geom) -> Column:
    """Radius of PostGIS ST_MaximumInscribedCircle."""


@_sql("ST_Snap", kernel=kernels.st_snap, rtype=BinaryType())
def st_snap(g: Geom, ref: Geom, tolerance: Double) -> Column:
    """PostGIS ST_Snap: vertices of g within tolerance of a ref vertex
    move onto it; ref vertices near g's segments are inserted."""


@_sql("ST_DelaunayTriangles",
      kernel=kernels.st_delaunay_triangles, rtype=BinaryType())
def st_delaunaytriangles(g: Geom, flags: Int = None) -> Column:
    """PostGIS ST_DelaunayTriangles (geo/triangulate.py Bowyer-Watson):
    flags 0/None = GEOMETRYCOLLECTION of triangles, 1 = MULTILINESTRING
    of unique edges."""


@_sql("ST_VoronoiPolygons",
      kernel=kernels.st_voronoi_polygons, rtype=BinaryType())
def st_voronoipolygons(g: Geom, extend_to: Geom = None) -> Column:
    """PostGIS ST_VoronoiPolygons: cell polygons per distinct site,
    clipped to the input bbox expanded by its larger dimension (or the
    extend_to envelope)."""


@_sql("ST_ConcaveHull", kernel=kernels.st_concave_hull, rtype=BinaryType())
def st_concavehull(g: Geom, ratio: Double) -> Column:
    """PostGIS ST_ConcaveHull (edge-length-ratio chi-shape; ratio 1 =
    convex hull, smaller = tighter)."""


@_sql("ST_GeneratePoints",
      kernel=kernels.st_generate_points, rtype=BinaryType())
def st_generatepoints(g: Geom, n: Int, seed: Int = None) -> Column:
    """PostGIS ST_GeneratePoints: seeded deterministic uniform points
    inside a polygonal geometry."""


@_sql("ST_IsClosed", kernel=kernels.st_is_closed, rtype=BooleanType())
def st_isclosed(g: Geom) -> Column:
    """PostGIS ST_IsClosed: line start == end (all members for
    multi-lines); points/polygons are closed (geo/validity.py)."""


@_sql("ST_IsRing", kernel=kernels.st_is_ring, rtype=BooleanType())
def st_isring(g: Geom) -> Column:
    """PostGIS ST_IsRing: closed AND simple LINESTRING."""


@_sql("ST_IsSimple", kernel=kernels.st_is_simple, rtype=BooleanType())
def st_issimple(g: Geom) -> Column:
    """PostGIS/OGC ST_IsSimple: no anomalous self-intersection."""


@_sql("ST_IsValid", kernel=kernels.st_is_valid, rtype=BooleanType())
def st_isvalid(g: Geom) -> Column:
    """PostGIS ST_IsValid (geo/validity.py rule set; the interior-
    connectedness rule is documented out of scope)."""


@_sql("ST_IsValidReason",
      kernel=kernels.st_is_valid_reason, rtype=StringType())
def st_isvalidreason(g: Geom) -> Column:
    """PostGIS ST_IsValidReason: 'Valid Geometry' or the first
    violation with its [x y] location."""


@_sql("ST_PointOnSurface",
      kernel=kernels.st_point_on_surface, rtype=BinaryType())
def st_pointonsurface(g: Geom) -> Column:
    """PostGIS ST_PointOnSurface: a point guaranteed ON the geometry
    (GEOS interior-point algorithms, geo/metrics.py)."""


@_sql("ST_HausdorffDistance", kernel=kernels.st_hausdorff, rtype=DoubleType())
def st_hausdorffdistance(a: Geom, b: Geom) -> Column:
    """PostGIS ST_HausdorffDistance (discrete form, vertex-to-geometry
    — what GEOS computes without densification)."""


@_sql("ST_FrechetDistance", kernel=kernels.st_frechet, rtype=DoubleType())
def st_frechetdistance(a: Geom, b: Geom) -> Column:
    """PostGIS ST_FrechetDistance (discrete, ordered vertex walks —
    direction-sensitive unlike Hausdorff)."""


@_sql("ST_Affine", kernel=kernels.st_affine, rtype=BinaryType())
def st_affine(g: Geom, a: Double, b: Double, d: Double, e: Double,
              xoff: Double, yoff: Double) -> Column:
    """PostGIS ST_Affine (2D): x' = a·x + b·y + xoff,
    y' = d·x + e·y + yoff (geo/edit.py; beyond-reference)."""


@_sql("ST_Expand", kernel=kernels.st_expand, rtype=BinaryType())
def st_expand(g: Geom, dx: Double, dy: Double = None) -> Column:
    """PostGIS ST_Expand: bounding box grown by dx/dy, as a POLYGON."""


@_sql("ST_Angle", kernel=kernels.st_angle, rtype=DoubleType())
def st_angle(p1: Geom, p2: Geom, p3: Geom, p4: Geom = None) -> Column:
    """PostGIS ST_Angle over POINTs: 3-point form = angle at vertex p2
    of p1-p2-p3; 4-point form = clockwise angle from direction p1→p2
    to p3→p4. Radians in [0, 2π)."""


@_sql("ST_RemoveRepeatedPoints",
      kernel=kernels.st_remove_repeated_points, rtype=BinaryType())
def st_removerepeatedpoints(g: Geom, tolerance: Double = None) -> Column:
    """PostGIS ST_RemoveRepeatedPoints: consecutive vertices closer
    than the tolerance dissolved (exact duplicates by default)."""


@_sql("ST_SnapToGrid", kernel=kernels.st_snap_to_grid, rtype=BinaryType())
def st_snaptogrid(g: Geom, size: Double) -> Column:
    """PostGIS ST_SnapToGrid (origin 0): coords to grid multiples,
    duplicates dissolved, collapsed parts dropped."""


@_sql("ST_AddPoint", kernel=kernels.st_add_point, rtype=BinaryType())
def st_addpoint(g: Geom, pt: Geom, pos: Int = None) -> Column:
    """PostGIS ST_AddPoint: insert a POINT into a LINESTRING before
    0-based index pos (default append)."""


@_sql("ST_SetPoint", kernel=kernels.st_set_point, rtype=BinaryType())
def st_setpoint(g: Geom, pos: Int, pt: Geom) -> Column:
    """PostGIS ST_SetPoint: replace vertex pos (negative from end) of a
    LINESTRING."""


@_sql("ST_RemovePoint", kernel=kernels.st_remove_point, rtype=BinaryType())
def st_removepoint(g: Geom, pos: Int) -> Column:
    """PostGIS ST_RemovePoint: drop vertex pos of a LINESTRING."""


@_sql("ST_Multi", kernel=kernels.st_multi, rtype=BinaryType())
def st_multi(g: Geom) -> Column:
    """PostGIS ST_Multi: promote to the multi-type."""


@_sql("ST_CollectionExtract",
      kernel=kernels.st_collection_extract, rtype=BinaryType())
def st_collectionextract(g: Geom, dimtype: Int) -> Column:
    """PostGIS ST_CollectionExtract: members of type 1=points 2=lines
    3=polygons as a multi-geometry."""


@_sql("ST_CollectionHomogenize",
      kernel=kernels.st_collection_homogenize, rtype=BinaryType())
def st_collectionhomogenize(g: Geom) -> Column:
    """PostGIS ST_CollectionHomogenize: simplest representation of the
    collection contents."""


@_sql("ST_Dump", kernel=kernels.st_dump, rtype=ArrayType(BinaryType()))
def st_dump(g: Geom) -> Column:
    """PostGIS ST_Dump, Spark-shaped: ARRAY of member WKBs — compose
    with explode() for the set-returning form."""


@_sql("ST_DumpPoints",
      kernel=kernels.st_dump_points, rtype=ArrayType(BinaryType()))
def st_dumppoints(g: Geom) -> Column:
    """PostGIS ST_DumpPoints, Spark-shaped: ARRAY of vertex POINTs in
    coordinate order."""


@_sql("ST_Relate", kernel=kernels.st_relate, rtype=StringType())
def _relate_matrix(a: Geom, b: Geom) -> Column:
    """st_relate without a pattern: the DE-9IM matrix string."""


@_sql(kernel=kernels.st_relate_pattern, rtype=BooleanType())
def _relate_pattern(a: Geom, b: Geom, pattern: Text) -> Column:
    """st_relate with a pattern: the matrix-vs-pattern test."""


def st_relate(a: Geom, b: Geom,
              pattern: "Column | str | None" = None) -> Column:
    """PostGIS ST_Relate (beyond-reference; geo/de9im.py): without a
    pattern, the 9-char DE-9IM matrix string of a vs b; with one, the
    boolean matrix-vs-pattern test. NULL for GeometryCollection /
    mixed-dimension inputs (GEOS refuses those too)."""
    if pattern is None:
        return _relate_matrix(a, b)
    return _relate_pattern(a, b, pattern)


@_sql("ST_RelateMatch", kernel=kernels.st_relate_match, rtype=BooleanType())
def st_relatematch(matrix: Text, pattern: Text) -> Column:
    """PostGIS ST_RelateMatch: DE-9IM matrix string vs intersection
    pattern ('T'/'F'/'0'/'1'/'2'/'*'). Pure string logic — usable on
    precomputed matrices. In SQL the 3-arg relate form is spelled
    st_relatematch(st_relate(a, b), pattern)."""


@_sql("ST_Intersection", kernel=kernels.geom_intersection, rtype=BinaryType())
def st_intersection(a: Geom, b: Geom) -> Column:
    """Geometric intersection (PostGIS ST_Intersection; beyond-reference
    — the reference has no set ops). Polygon×polygon is the dissolving
    boundary-classification overlay (geo/overlay.py); line/point
    operands clip; dimensional collapses are dropped (documented
    deviation: touching polygons -> POLYGON EMPTY, not LINESTRING)."""


@_sql("ST_Union", kernel=kernels.geom_union, rtype=BinaryType())
def st_union(a: Geom, b: Geom) -> Column:
    """Pairwise geometric union (PostGIS ST_Union; beyond-reference).
    Areal inputs dissolve shared boundaries; mixed dimensions return
    GEOMETRYCOLLECTION((a - b), b). For the aggregate form see
    st_union_agg."""


@_sql("ST_Difference", kernel=kernels.geom_difference, rtype=BinaryType())
def st_difference(a: Geom, b: Geom) -> Column:
    """Geometric difference a - b (PostGIS ST_Difference;
    beyond-reference). Lower-dimensional b leaves a unchanged."""


# ST_UnionFromArray: the fold over one group's collected geometries
_union_fold = _udf(kernels.st_union_all, BinaryType())


def st_union_agg(g: Column) -> Column:
    """ST_Union AGGREGATE over a WKB geometry column: JVM-side
    collect_list gathers the group (no Python in the shuffle), then one
    vectorized fold per GROUP dissolves it (kernels.st_union_all). Use
    inside groupBy().agg(...); group sizes bound the fold cost."""
    return _union_fold(F.collect_list(g))


@_sql("ST_Polygonize", kernel=kernels.st_polygonize, rtype=BinaryType())
def st_polygonize(g: Geom) -> Column:
    """ST_Polygonize of ONE geometry's linework (typically a
    MultiLineString/collection; PostGIS parity on correctly-noded
    input — no noding is performed). Bounded faces come back as
    (Multi)Polygon, holes assigned, GEOMETRYCOLLECTION EMPTY when the
    linework closes nothing."""


_polygonize_fold = _udf(kernels.st_polygonize_all, BinaryType())


def st_polygonize_agg(g: Column) -> Column:
    """ST_Polygonize AGGREGATE over a WKB geometry column: JVM-side
    collect_list gathers the group's linework (no Python in the
    shuffle), then one planar face walk per GROUP assembles the faces
    (kernels.st_polygonize_all). Use inside groupBy().agg(...)."""
    return _polygonize_fold(F.collect_list(g))


@_sql("ST_Node", kernel=kernels.st_node, rtype=BinaryType())
def st_node(g: Geom) -> Column:
    """ST_Node: fully node lineal input — every path split at each
    crossing / endpoint touch, duplicate pieces dissolved (PostGIS;
    beyond-reference)."""


@_sql("ST_MakeValid", kernel=kernels.st_make_valid, rtype=BinaryType())
def st_makevalid(g: Geom) -> Column:
    """ST_MakeValid, LINEWORK method (PostGIS; beyond-reference): node
    the boundary rings, polygonize the arrangement, keep odd even-odd
    parity faces, drop zero-area spikes. Bowties split, pinches become
    multipolygons, overlapping multipolygon members XOR (the documented
    linework behavior); valid input round-trips. Non-areal input is
    returned unchanged."""


@_sql("ST_ShortestLine", kernel=kernels.st_shortest_line, rtype=BinaryType())
def st_shortestline(a: Geom, b: Geom) -> Column:
    """ST_ShortestLine: the 2-point LINESTRING realizing
    distance(a, b) (PostGIS; beyond-reference). Intersecting operands
    yield the degenerate zero-length line at the shared witness."""


@_sql("ST_Project", kernel=kernels.st_project, rtype=BinaryType())
def st_project(g: Geom, distance: Double, azimuth: Double) -> Column:
    """ST_Project (planar geometry form): point ``distance`` away along
    ``azimuth`` radians clockwise from north — the ST_Azimuth
    convention, so st_azimuth(p, st_project(p, d, az)) == az."""


@_sql("ST_MinimumBoundingRadius",
      kernel=kernels.st_minbound_radius, rtype=DoubleType())
def st_minimumboundingradius(g: Geom) -> Column:
    """Radius of the smallest enclosing circle (the radius field of
    PostGIS ST_MinimumBoundingRadius's record; the center is
    st_minboundcenter — Spark SQL UDFs return one column, so the
    record splits into two functions, documented deviation)."""


@_sql("ST_MinBoundCenter",
      kernel=kernels.st_minbound_center, rtype=BinaryType())
def st_minboundcenter(g: Geom) -> Column:
    """Center POINT of the smallest enclosing circle (the center field
    of PostGIS ST_MinimumBoundingRadius's record)."""


@_sql("ST_OrientedEnvelope",
      kernel=kernels.st_oriented_envelope, rtype=BinaryType())
def st_orientedenvelope(g: Geom) -> Column:
    """ST_OrientedEnvelope: minimum-area rotated rectangle (PostGIS;
    beyond-reference). Degenerates like PostGIS (point/collinear
    inputs); deterministic canonical ring start."""


@_sql("ST_SymDifference",
      kernel=kernels.geom_symdifference, rtype=BinaryType())
def st_symdifference(a: Geom, b: Geom) -> Column:
    """ST_SymDifference — points in exactly one operand (PostGIS;
    beyond-reference). Areal pairs are a single overlay pass
    (geo/overlay.py symdifference)."""


@_sql("ST_Reverse", kernel=kernels.st_reverse, rtype=BinaryType())
def st_reverse(g: Geom) -> Column:
    """ST_Reverse: vertex order flipped (PostGIS; beyond-reference)."""


@_sql("ST_FlipCoordinates",
      kernel=kernels.st_flip_coordinates, rtype=BinaryType())
def st_flipcoordinates(g: Geom) -> Column:
    """ST_FlipCoordinates: (x, y) -> (y, x) (PostGIS;
    beyond-reference)."""


@_sql("ST_Rotate", kernel=kernels.st_rotate, rtype=BinaryType())
def st_rotate(g: Geom, angle: Double, x0: Double = None,
              y0: Double = None) -> Column:
    """ST_Rotate: CCW radians about (x0, y0), origin by default
    (PostGIS; beyond-reference)."""


@_sql("ST_Scale", kernel=kernels.st_scale2, rtype=BinaryType())
def st_scale(g: Geom, sx: Double, sy: Double) -> Column:
    """ST_Scale about the origin (PostGIS; beyond-reference)."""


@_sql("ST_Segmentize", kernel=kernels.st_segmentize, rtype=BinaryType())
def st_segmentize(g: Geom, max_len: Double) -> Column:
    """ST_Segmentize: no segment longer than max_len, minimal equal
    splits per segment (PostGIS/GEOS; beyond-reference)."""


@_sql("ST_ChaikinSmoothing",
      kernel=kernels.st_chaikin_smoothing, rtype=BinaryType())
def st_chaikinsmoothing(g: Geom, iterations: Double = 1) -> Column:
    """ST_ChaikinSmoothing: iterative 1/4–3/4 corner cutting on lines
    and polygon rings; iterations clamp to [1, 5] (PostGIS parity,
    geo/edit.py)."""


@_sql("ST_SimplifyVW", kernel=kernels.st_simplify_vw, rtype=BinaryType())
def st_simplifyvw(g: Geom, tolerance: Double) -> Column:
    """ST_SimplifyVW: Visvalingam–Whyatt area-threshold simplification
    (smallest effective triangle removed first; rings keep at least a
    triangle — geo/edit.py)."""


@_sql("ST_LineSubstring", kernel=kernels.st_line_substring, rtype=BinaryType())
def st_linesubstring(g: Geom, start: Double, end: Double) -> Column:
    """ST_LineSubstring: the fractional arc-length window [start, end]
    of a LINESTRING; start == end yields the interpolated point
    (PostGIS; beyond-reference)."""


@_sql("ST_ReducePrecision",
      kernel=kernels.st_reduce_precision, rtype=BinaryType())
def st_reduceprecision(g: Geom, gridsize: Double) -> Column:
    """Grid-snap coordinates to multiples of gridsize (PostGIS
    ST_ReducePrecision minus the GEOS validity repair — documented;
    beyond-reference)."""


@_sql("ST_LineMerge", kernel=kernels.st_line_merge, rtype=BinaryType())
def st_linemerge(g: Geom) -> Column:
    """ST_LineMerge: sew (Multi)LineString linework at degree-2 nodes,
    reversing pieces as needed (PostGIS/GEOS semantics with a
    deterministic input-order chain start; beyond-reference). Non-lineal
    input yields GEOMETRYCOLLECTION EMPTY."""


@_sql("ST_Subdivide",
      kernel=kernels.st_subdivide, rtype=ArrayType(BinaryType()))
def st_subdivide(g: Geom, max_vertices: Int = 128) -> Column:
    """ST_Subdivide: recursive longer-axis halving until every piece has
    <= max_vertices vertices (PostGIS; beyond-reference). Returns
    array<wkb> — explode() it for the PostGIS set-returning shape. The
    pre-shard step that keeps per-pair refinement bounded when joining
    continent-sized polygons at scale."""


@_sql("ST_LineLocatePoint",
      kernel=kernels.line_locate_point, rtype=DoubleType())
def st_linelocatepoint(g: Geom, p: Geom) -> Column:
    """Fraction of the line's length at the closest point to p —
    the inverse of st_lineinterpolatepoint (PostGIS ST_LineLocatePoint;
    beyond-reference utility)."""


@_sql("ST_Distance", kernel=kernels.distance, rtype=DoubleType())
def st_distance(a: Geom, b: Geom) -> Column:
    """Minimum planar distance; NULL for empty operands (PostGIS
    ST_Distance; beyond-reference utility)."""


@_sql("ST_Transform", kernel=kernels.transform_srid, rtype=BinaryType())
def st_transform(g: Geom, to_srid: Int, from_srid: Int = None) -> Column:
    """ST_Transform between EPSG:4326 (and its 4269/4258 aliases),
    3857 web mercator, UTM 326xx/327xx and every geo/proj.py
    CRS_REGISTRY code, closed-form (beyond-reference utility); a
    projected -> projected pair composes through 4326. PostGIS
    semantics: source SRID from the geometry's EWKB header, or
    ``from_srid`` for plain-WKB inputs; output stamped with to_srid."""


@_sql("ST_X", kernel=kernels.st_x, rtype=DoubleType())
def st_x(g: Geom) -> Column:
    """x of a POINT, NULL otherwise (PostGIS ST_X; beyond-reference)."""


@_sql("ST_Y", kernel=kernels.st_y, rtype=DoubleType())
def st_y(g: Geom) -> Column:
    """y of a POINT, NULL otherwise (PostGIS ST_Y; beyond-reference)."""


@_sql("ST_NumGeometries", kernel=kernels.num_geometries, rtype=IntegerType())
def st_numgeometries(g: Geom) -> Column:
    """Member count (PostGIS ST_NumGeometries; beyond-reference)."""


@_sql("ST_GeometryN", kernel=kernels.geometry_n, rtype=BinaryType())
def st_geometryn(g: Geom, n: Int) -> Column:
    """1-based nth member (PostGIS ST_GeometryN; beyond-reference)."""


@_sql("ST_PointN", kernel=kernels.point_n, rtype=BinaryType())
def st_pointn(g: Geom, n: Int) -> Column:
    """1-based nth vertex of a LINESTRING, negative from the end
    (PostGIS ST_PointN; beyond-reference)."""


@_sql("ST_StartPoint", kernel=kernels.start_point, rtype=BinaryType())
def st_startpoint(g: Geom) -> Column:
    """First vertex of a LINESTRING (PostGIS ST_StartPoint)."""


@_sql("ST_EndPoint", kernel=kernels.end_point, rtype=BinaryType())
def st_endpoint(g: Geom) -> Column:
    """Last vertex of a LINESTRING (PostGIS ST_EndPoint)."""


@_sql("ST_DWithin", kernel=kernels.dwithin, rtype=BooleanType())
def st_dwithin(a: Geom, b: Geom, d: Double) -> Column:
    """distance(a, b) <= d (PostGIS ST_DWithin; beyond-reference
    utility). For distance-band JOINS prefer expanding one side's bbox
    by d and using the grid/broadcast spatial-join machinery
    (operators/spatial_join.py) with this as the exact refinement."""


# -- extent aggregate ---------------------------------------------------

def st_extent_agg(bbox: Column) -> Column:
    """#19 st_extent over a precomputed Box2D struct column: aggregate
    union of bounding boxes per group (/root/reference/src/function/extent.rs:13-155).
    Lowered to built-in min/min/max/max so Catalyst plans a native
    partial+final HashAggregate (no Python in the agg path; skips nulls
    exactly like the reference, extent.rs:131-141)."""
    return F.struct(
        F.min(bbox["xmin"]).alias("xmin"),
        F.min(bbox["ymin"]).alias("ymin"),
        F.max(bbox["xmax"]).alias("xmax"),
        F.max(bbox["ymax"]).alias("ymax"),
    )


def st_extent(g: Geom) -> Column:
    """#19 st_extent directly over a geometry column. Prefer materializing
    ``box2d(geom)`` once (``df.withColumn("bbox", box2d(g))``) then
    ``st_extent_agg(col("bbox"))`` — one Python eval instead of four."""
    return st_extent_agg(box2d(g))


def _vertex_list(pts: Column) -> Column:
    """WKT vertex list ``x y,x y,...`` of an array of (x, y) structs."""
    return F.array_join(F.transform(pts, lambda p: F.concat(
        p["x"].cast("string"), F.lit(" "), p["y"].cast("string"))), ",")


def st_collect_points_agg(x, y) -> Column:
    """PostGIS-style ST_Collect aggregate for POINT inputs: one
    canonical MULTIPOINT WKT per group, built ENTIRELY JVM-side —
    collect_list of (x, y) structs, sort_array for a deterministic
    vertex order (lexicographic by x then y, so the result is
    reproducible in ANSI SQL via string_agg ORDER BY), then a
    transform+array_join string assembly. Empty groups (all-null
    coordinates filtered upstream) yield MULTIPOINT EMPTY.

    Scale note: like PostGIS ST_Collect, the group's points materialize
    in one aggregation buffer — bounded by the group size, not the
    corpus; use st_extent_agg when only the bounds are needed."""
    pts = F.sort_array(F.collect_list(
        F.struct(_num(x, "double").alias("x"), _num(y, "double").alias("y"))))
    return F.when(F.size(pts) > 0, F.concat(
        F.lit("MULTIPOINT("), _vertex_list(pts), F.lit(")"))) \
            .otherwise(F.lit("MULTIPOINT EMPTY"))


def st_makeline_agg(x, y, order_by) -> Column:
    """PostGIS-style ST_MakeLine aggregate: one LINESTRING WKT per
    group with vertices in ``order_by`` order (the trajectory
    constructor: points + sequence/timestamp -> path). Entirely
    JVM-side like st_collect_points_agg — collect_list of
    (order, x, y) structs, sort_array for the deterministic vertex
    order, transform+array_join assembly. Groups with fewer than two
    points yield LINESTRING EMPTY (a one-point line is invalid;
    documented deviation from PostGIS's degenerate output).

    Scale note: the group's vertices materialize in one aggregation
    buffer — bounded by trajectory length, not the corpus."""
    pts = F.sort_array(F.collect_list(
        F.struct(_num(order_by, "double").alias("o"),
                 _num(x, "double").alias("x"),
                 _num(y, "double").alias("y"))))
    return F.when(F.size(pts) >= 2, F.concat(
        F.lit("LINESTRING("), _vertex_list(pts), F.lit(")"))) \
            .otherwise(F.lit("LINESTRING EMPTY"))


def _uagg_extent():
    def f(g: pd.Series) -> list:  # Series -> scalar = grouped-agg UDF
        return kernels.extent_array(g)
    f.__name__ = "st_extent"
    return pandas_udf(f, ArrayType(DoubleType()))


# SQL drop-in for the reference's `select ST_Extent(geom) ... group by k`
# (/root/reference/src/function/extent.rs:205). Returns [xmin,ymin,xmax,ymax]
# (grouped-agg pandas UDFs cannot return StructType); wrap with
# ST_Box2DFromArray(...) for the exact Box2d struct. SCALE WARNING: a
# pandas UDAF has no map-side partial aggregation — every geometry blob
# shuffles to its group. The scale path is ``st_extent_agg`` /
# min-max over Box2D, which Catalyst runs as partial+final HashAggregate.
_extent_sql = _uagg_extent()
_box2d_from_array = _udf(kernels.box2d_from_array, BOX2D_TYPE)


GEOM_BBOX_TYPE = StructType(
    [StructField("geom", BinaryType(), True)] + list(BOX2D_TYPE.fields))


@_sql(kernel=kernels.geom_bbox_from_text, rtype=GEOM_BBOX_TYPE)
def st_geom_with_bbox_from_text(wkt: Text) -> Column:
    """Fused ST_GeomFromText + Box2D: struct{geom,xmin,ymin,xmax,ymax} in
    one Python crossing instead of two chained pandas-UDF stages. Use at
    ingest so downstream spatial joins read native bbox columns
    (ensure_bbox skips its Python pass when they exist)."""


@_sql(kernel=kernels.point_bbox_from_xy, rtype=GEOM_BBOX_TYPE)
def st_point_with_bbox(x: Double, y: Double) -> Column:
    """Fused ST_Point + Box2D (r11): struct{geom,xmin,ymin,xmax,ymax}
    in ONE Python crossing — the POINT analogue of
    st_geom_with_bbox_from_text, for ingest paths that derive point
    geometry from coordinate columns."""


_BOX_PIECES_TYPE = StructType([
    StructField("areas", ArrayType(DoubleType())),
    StructField("npts", ArrayType(IntegerType()))])


@_sql(kernel=kernels.box_subdivide_stats, rtype=_BOX_PIECES_TYPE)
def st_box_subdivide_stats(xmin: Double, ymin: Double, xmax: Double,
                           ymax: Double, seg: Double, maxv: Int) -> Column:
    """Fused ST_MakeEnvelope -> ST_Segmentize -> ST_Subdivide ->
    per-piece (ST_Area, ST_NPoints) in ONE Python crossing (r12):
    struct{areas: array<double>, npts: array<int>} aligned per piece.
    Byte-identical to the five-stage spelling (same kernels, same
    order, no WKB hops between them); NULL in == NULL out."""


@_sql(kernel=kernels.wkt_roundtrip, rtype=StringType())
def st_wkt_canonical(wkt: Text) -> Column:
    """Fused ST_AsText(ST_GeomFromText(x)): canonical-form WKT in one
    Python crossing instead of two chained pandas-UDF stages (same fusion
    rationale as st_geom_with_bbox_from_text; null in → null out)."""


# -- SQL registration ---------------------------------------------------

# the SQL-only names; every other name is registered by its ``_sql``
_SQL_UDFS.update({
    "ST_Extent": _extent_sql,
    "ST_Box2DFromArray": _box2d_from_array,
    "ST_UnionFromArray": _union_fold,
})


def register_all(spark: SparkSession) -> None:
    """Register every operator for SQL use — the Spark analogue of the
    reference's ``ctx.register_udf(...)`` glue
    (/root/reference/src/function/geom_from_text.rs:98-100). Lookup is
    case-insensitive, covering the reference's lowercase aliases.

    Optional-SRID overloads (reference ``one_of`` signatures,
    geom_from_text.rs:21-27) resolve under the primary name via variadic
    UDFs; ``<name>SRID`` aliases remain. ``ST_Extent`` registers as a
    grouped-agg pandas UDAF returning [xmin,ymin,xmax,ymax] (struct via
    ``ST_Box2DFromArray``) for reference-SQL drop-in parity; at scale
    prefer ``st_extent_agg`` / native min-max, which aggregates
    partial+final with no Python in the agg path (SURVEY.md §2.1 #19).
    """
    for name, udf_obj in _SQL_UDFS.items():
        spark.udf.register(name, udf_obj)


__all__ = [
    "geom_lit", "register_all", "BOX2D_TYPE",
    "st_geomfromtext", "st_geomfromwkb", "st_geomfromgeojson",
    "st_astext", "st_asewkt",
    "st_asgeojson", "st_geometrytype", "box2d", "st_makeenvelope",
    "st_intersects", "st_disjoint", "st_covers", "st_coveredby", "st_equals",
    "st_translate", "st_buffer", "st_boundary", "st_split", "st_srid",
    "st_asmvtgeom", "st_asmvtgeom_box", "st_point", "st_npoints", "st_area",
    "st_extent", "st_extent_agg", "st_geom_with_bbox_from_text",
    "st_point_with_bbox", "st_box_subdivide_stats",
    "st_wkt_canonical",
    "st_length", "st_perimeter", "st_centroid", "st_convexhull",
    "st_simplify", "st_distance", "st_dwithin", "st_collect_points_agg",
    "st_makeline_agg",
    "st_envelope", "st_lineinterpolatepoint", "st_linelocatepoint",
    "st_geohash", "st_azimuth", "st_closestpoint",
    "st_intersection", "st_union", "st_difference", "st_union_agg",
    "st_contains", "st_within", "st_touches", "st_overlaps", "st_crosses",
    "st_relate", "st_relatematch",
    "st_delaunaytriangles", "st_voronoipolygons", "st_concavehull",
    "st_generatepoints", "st_maxinscribedcenter", "st_maxinscribedradius",
    "st_snap", "st_offsetcurve", "st_sharedpaths", "st_clipbybox2d",
    "st_distancesphere", "st_distancespheroid", "st_projectspheroid",
    "st_tileenvelope", "st_normalize",
    "st_areasphere", "st_lengthsphere", "st_perimetersphere",
    "st_azimuthsphere", "st_projectsphere", "st_geometricmedian", "st_buildarea", "st_maxdistance", "st_longestline",
    "st_isempty", "st_dimension", "st_exteriorring", "st_interiorringn",
    "st_numinteriorrings", "st_boundingdiagonal",
    "st_isclosed", "st_isring", "st_issimple", "st_isvalid",
    "st_isvalidreason", "st_pointonsurface", "st_hausdorffdistance",
    "st_frechetdistance",
    "st_affine", "st_expand", "st_angle", "st_removerepeatedpoints",
    "st_snaptogrid", "st_addpoint", "st_setpoint", "st_removepoint",
    "st_multi", "st_collectionextract", "st_collectionhomogenize",
    "st_dump", "st_dumppoints",
    "st_symdifference", "st_reverse", "st_flipcoordinates", "st_rotate",
    "st_scale", "st_segmentize", "st_linesubstring", "st_reduceprecision",
    "st_chaikinsmoothing", "st_simplifyvw",
    "st_linemerge", "st_subdivide", "st_polygonize", "st_polygonize_agg",
    "st_minimumboundingradius", "st_minboundcenter", "st_orientedenvelope",
    "st_node", "st_makevalid", "st_shortestline", "st_project",
    "st_transform", "st_x", "st_y", "st_numgeometries", "st_geometryn",
    "st_pointn", "st_startpoint", "st_endpoint",
]
