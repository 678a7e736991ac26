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

``st_extent`` is NOT a Python UDAF: per SURVEY.md §2.1 #19 it lowers to
built-in min/max over a Box2D struct, so Catalyst runs its own two-phase
(partial/final) hash aggregate — the Spark-native equivalent of the
reference's Accumulator lifecycle (/root/reference/src/function/extent.rs:75-128).
"""

from __future__ import annotations

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

GeomLike = Union[Column, Geometry, bytes, str]

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


def _geom(c: GeomLike) -> Column:
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


_geom_from_text = _udf(kernels.geom_from_text, BinaryType())
_geom_from_geojson = _udf(kernels.geom_from_geojson, BinaryType())
_geom_from_wkb = _udf(kernels.geom_from_wkb, BinaryType())
_set_srid = _udf(kernels.set_srid, BinaryType())
_geom_from_wkb_dialect = _udf(kernels.geom_from_wkb_dialect, BinaryType())
_make_envelope = _udf(kernels.make_envelope, BinaryType())
_point = _udf(kernels.st_point, BinaryType())
_as_text = _udf(kernels.as_text, StringType())
_as_ewkt = _udf(kernels.as_ewkt, StringType())
_as_geojson = _udf(kernels.as_geojson, StringType())
_geometry_type = _udf(kernels.geometry_type, StringType())
_srid = _udf(kernels.srid, IntegerType())
_npoints = _udf(kernels.npoints, IntegerType())
_area = _udf(kernels.area, DoubleType())
_box2d = _udf(kernels.box2d_rows, BOX2D_TYPE)
_intersects = _udf(kernels.intersects, BooleanType())
_covers = _udf(kernels.covers, BooleanType())
_covered_by = _udf(kernels.covered_by, BooleanType())
_equals = _udf(kernels.equals, BooleanType())
_translate = _udf(kernels.translate, BinaryType())
_buffer = _udf(kernels.buffer, BinaryType())
_split = _udf(kernels.split, BinaryType())
_as_mvt_geom = _udf(kernels.as_mvt_geom, BinaryType())


# -- Column API ---------------------------------------------------------

def st_geomfromtext(wkt: Union[Column, str], srid: Optional[Union[Column, int]] = None) -> Column:
    """#1 ST_GeomFromText (/root/reference/src/function/geom_from_text.rs:13-81)."""
    c = wkt if isinstance(wkt, Column) else F.lit(wkt)
    if srid is None:
        return _geom_from_text(c)
    return _geom_from_text(c, _num(srid, "int"))


def st_geomfromgeojson(geojson: Union[Column, str]) -> Column:
    """PostGIS-parity ST_GeomFromGeoJSON: GeoJSON geometry text → (E)WKB
    (geo/geojson.py). Inverse of st_asgeojson; the reference only
    serializes (/root/reference/src/function/as_geojson.rs:88-110)."""
    c = geojson if isinstance(geojson, Column) else F.lit(geojson)
    return _geom_from_geojson(c)


def st_geomfromwkb(wkb: Column, srid: Optional[Union[Column, int]] = None,
                   dialect: Optional[str] = None) -> Column:
    """#2 ST_GeomFromWKB (/root/reference/src/function/geom_from_wkb.rs:13-81).

    ``dialect`` ingests foreign blob encodings the reference decodes via
    its per-blob tag byte (/root/reference/src/geo/dialect.rs:5-29):
    'geopackage', 'spatialite', 'mysql', 'tagged' (the reference's own
    tag-prefixed storage), or 'auto' (framing sniff; cannot detect
    MySQL's bare-int prefix). Output is always canonical (E)WKB."""
    if dialect is not None:
        if srid is None:
            return _geom_from_wkb_dialect(wkb, F.lit(str(dialect)))
        # one crossing: the dialect kernel stamps the SRID on the decoded
        # geometry directly instead of a second full re-parse
        return _geom_from_wkb_dialect(wkb, F.lit(str(dialect)),
                                           _num(srid, "int"))
    if srid is None:
        return _geom_from_wkb(wkb)
    return _geom_from_wkb(wkb, _num(srid, "int"))


def st_astext(g: GeomLike) -> Column:
    """#3 ST_AsText (/root/reference/src/function/as_text.rs:13-110)."""
    return _as_text(_geom(g))


def st_asewkt(g: GeomLike) -> Column:
    """#4 ST_AsEWKT (/root/reference/src/function/as_ewkt.rs:13-101)."""
    return _as_ewkt(_geom(g))


def st_asgeojson(g: GeomLike) -> Column:
    """#5 ST_AsGeoJSON (/root/reference/src/function/as_geojson.rs:13-110)."""
    return _as_geojson(_geom(g))


def st_geometrytype(g: GeomLike) -> Column:
    """#6 ST_GeometryType (/root/reference/src/function/geometry_type.rs:10-92)."""
    return _geometry_type(_geom(g))


def box2d(g: GeomLike) -> Column:
    """#7 Box2D → struct{xmin,ymin,xmax,ymax}
    (/root/reference/src/function/box2d.rs:11-82)."""
    return _box2d(_geom(g))


def st_makeenvelope(xmin, ymin, xmax, ymax, srid=None) -> Column:
    """#8 ST_MakeEnvelope (/root/reference/src/function/make_envelope.rs:11-110)."""
    args = [_num(v, "double") for v in (xmin, ymin, xmax, ymax)]
    if srid is None:
        return _make_envelope(*args)
    return _make_envelope(*args, _num(srid, "int"))


def st_intersects(a: GeomLike, b: GeomLike) -> Column:
    """#9 ST_Intersects (/root/reference/src/function/intersects.rs:13-132)."""
    return _intersects(_geom(a), _geom(b))


_disjoint = _udf(kernels.disjoint, BooleanType())


def st_disjoint(a: GeomLike, b: GeomLike) -> Column:
    """NOT ST_Intersects, with the same fast paths (PostGIS
    ST_Disjoint; beyond-reference utility)."""
    return _disjoint(_geom(a), _geom(b))


def st_covers(a: GeomLike, b: GeomLike) -> Column:
    """#10 ST_Covers (/root/reference/src/function/covers.rs:15-122)."""
    return _covers(_geom(a), _geom(b))


def st_coveredby(a: GeomLike, b: GeomLike) -> Column:
    """#11 ST_CoveredBy (/root/reference/src/function/covered_by.rs:14-121)."""
    return _covered_by(_geom(a), _geom(b))


def st_equals(a: GeomLike, b: GeomLike) -> Column:
    """#12 ST_Equals — topological (/root/reference/src/function/equals.rs:15-122)."""
    return _equals(_geom(a), _geom(b))


def st_translate(g: GeomLike, dx, dy) -> Column:
    """#13 ST_Translate (/root/reference/src/function/translate.rs:11-103)."""
    return _translate(_geom(g), _num(dx, "double"), _num(dy, "double"))


def st_buffer(g: GeomLike, width, quadsegs=8) -> Column:
    """#14 ST_Buffer (/root/reference/src/function/buffer.rs:14-104)."""
    return _buffer(_geom(g), _num(width, "double"), _num(quadsegs, "int"))


_boundary_udf = _udf(kernels.boundary, BinaryType())


def st_boundary(g: GeomLike) -> Column:
    """#15 ST_Boundary (/root/reference/src/function/boundary.rs:14-87)."""
    return _boundary_udf(_geom(g))


def st_split(g: GeomLike, blade: GeomLike) -> Column:
    """#16 ST_Split — PostGIS semantics, not the reference's broken kernel
    (/root/reference/src/function/split.rs:148)."""
    return _split(_geom(g), _geom(blade))


def st_srid(g: GeomLike) -> Column:
    """#17 ST_SRID (/root/reference/src/function/srid.rs:11-72)."""
    return _srid(_geom(g))


def st_setsrid(g: GeomLike, srid) -> Column:
    """ST_SetSRID (PostGIS pair of #17 ST_SRID): stamp or clear the
    EWKB SRID header; NULL/<=0 clears (see kernels.set_srid)."""
    return _set_srid(_geom(g), srid if isinstance(srid, Column)
                     else F.lit(srid))


def st_asmvtgeom(g: GeomLike, xmin, ymin, xmax, ymax) -> Column:
    """#18 ST_AsMVTGeom (/root/reference/src/function/as_mvt_geom.rs:13-102).
    The reference signature takes (geom, Box2d); pass the box as four
    doubles or a Box2D struct column via ``st_asmvtgeom_box``."""
    return _as_mvt_geom(_geom(g), _num(xmin, "double"), _num(ymin, "double"),
                        _num(xmax, "double"), _num(ymax, "double"))


def st_asmvtgeom_box(g: GeomLike, box: Column) -> Column:
    """#18 variant taking a Box2D struct column (matches the reference's
    (geom, Box2d) signature exactly)."""
    return _as_mvt_geom(_geom(g), box["xmin"], box["ymin"], box["xmax"], box["ymax"])


def st_npoints(g: GeomLike) -> Column:
    """Vertex count (PostGIS ST_NPoints; beyond-reference utility)."""
    return _npoints(_geom(g))


def st_area(g: GeomLike) -> Column:
    """Planar area (PostGIS ST_Area; beyond-reference utility —
    shells minus holes, 0 for points/lines)."""
    return _area(_geom(g))


def st_point(x, y) -> Column:
    """Fast point constructor (PostGIS ST_Point; no direct reference
    analogue — used to derive fixture geometry, FIXTURES.md §2)."""
    return _point(_num(x, "double"), _num(y, "double"))


_length = _udf(kernels.length, DoubleType())
_perimeter = _udf(kernels.perimeter, DoubleType())
_centroid = _udf(kernels.centroid, BinaryType())
_envelope = _udf(kernels.envelope, BinaryType())
_convex_hull = _udf(kernels.convex_hull, BinaryType())
_simplify = _udf(kernels.simplify, BinaryType())
_line_interp = _udf(kernels.line_interpolate_point, BinaryType())
_line_locate = _udf(kernels.line_locate_point, DoubleType())
_geohash = _udf(kernels.st_geohash, StringType())
_azimuth = _udf(kernels.st_azimuth, DoubleType())
_closest_point = _udf(kernels.closest_point, BinaryType())
_distance = _udf(kernels.distance, DoubleType())
_dwithin = _udf(kernels.dwithin, BooleanType())
_contains = _udf(kernels.st_contains, BooleanType())
_within = _udf(kernels.st_within, BooleanType())
_touches = _udf(kernels.st_touches, BooleanType())
_overlaps = _udf(kernels.st_overlaps, BooleanType())
_crosses = _udf(kernels.st_crosses, BooleanType())
_is_empty = _udf(kernels.st_is_empty, BooleanType())
_dimension = _udf(kernels.st_dimension, IntegerType())
_exterior_ring = _udf(kernels.st_exterior_ring, BinaryType())
_interior_ring_n = _udf(kernels.st_interior_ring_n, BinaryType())
_num_interior_rings = _udf(kernels.st_num_interior_rings, IntegerType())
_bounding_diagonal = _udf(kernels.st_bounding_diagonal, BinaryType())
_distance_sphere = _udf(kernels.st_distance_sphere, DoubleType())
_distance_spheroid = _udf(kernels.st_distance_spheroid, DoubleType())
_area_sphere = _udf(kernels.st_area_sphere, DoubleType())
_length_sphere = _udf(kernels.st_length_sphere, DoubleType())
_perimeter_sphere = _udf(kernels.st_perimeter_sphere, DoubleType())
_max_distance = _udf(kernels.st_max_distance, DoubleType())
_longest_line = _udf(kernels.st_longest_line, BinaryType())
_build_area = _udf(kernels.st_build_area, BinaryType())
_geometric_median = _udf(kernels.st_geometric_median, BinaryType())
_azimuth_sphere = _udf(kernels.st_azimuth_sphere, DoubleType())
_project_sphere = _udf(kernels.st_project_sphere, BinaryType())
_project_spheroid = _udf(kernels.st_project_spheroid, BinaryType())
_tile_envelope = _udf(kernels.st_tile_envelope, BinaryType())
_normalize = _udf(kernels.st_normalize, BinaryType())
_offset_curve = _udf(kernels.st_offset_curve, BinaryType())
_shared_paths = _udf(kernels.st_shared_paths, BinaryType())
_clip_by_box = _udf(kernels.st_clip_by_box, BinaryType())
_mic_center = _udf(kernels.st_max_inscribed_center, BinaryType())
_mic_radius = _udf(kernels.st_max_inscribed_radius, DoubleType())
_snap = _udf(kernels.st_snap, BinaryType())
_delaunay = _udf(kernels.st_delaunay_triangles, BinaryType())
_voronoi = _udf(kernels.st_voronoi_polygons, BinaryType())
_concave_hull = _udf(kernels.st_concave_hull, BinaryType())
_generate_points = _udf(kernels.st_generate_points, BinaryType())
_is_closed = _udf(kernels.st_is_closed, BooleanType())
_is_ring = _udf(kernels.st_is_ring, BooleanType())
_is_simple = _udf(kernels.st_is_simple, BooleanType())
_is_valid = _udf(kernels.st_is_valid, BooleanType())
_is_valid_reason = _udf(kernels.st_is_valid_reason, StringType())
_point_on_surface = _udf(kernels.st_point_on_surface, BinaryType())
_hausdorff = _udf(kernels.st_hausdorff, DoubleType())
_frechet = _udf(kernels.st_frechet, DoubleType())
_affine = _udf(kernels.st_affine, BinaryType())
_expand = _udf(kernels.st_expand, BinaryType())
_angle = _udf(kernels.st_angle, DoubleType())
_remove_repeated = _udf(kernels.st_remove_repeated_points, BinaryType())
_snap_to_grid = _udf(kernels.st_snap_to_grid, BinaryType())
_add_point = _udf(kernels.st_add_point, BinaryType())
_set_point = _udf(kernels.st_set_point, BinaryType())
_remove_point = _udf(kernels.st_remove_point, BinaryType())
_multi = _udf(kernels.st_multi, BinaryType())
_collection_extract = _udf(kernels.st_collection_extract, BinaryType())
_collection_homogenize = _udf(kernels.st_collection_homogenize, BinaryType())
_dump = _udf(kernels.st_dump, ArrayType(BinaryType()))
_dump_points = _udf(kernels.st_dump_points, ArrayType(BinaryType()))
_relate = _udf(kernels.st_relate, StringType())
_relate_pattern = _udf(kernels.st_relate_pattern, BooleanType())
_relate_match = _udf(kernels.st_relate_match, BooleanType())
_intersection = _udf(kernels.geom_intersection, BinaryType())
_union_pair = _udf(kernels.geom_union, BinaryType())
_difference = _udf(kernels.geom_difference, BinaryType())
_union_fold = _udf(kernels.st_union_all, BinaryType())
_symdifference = _udf(kernels.geom_symdifference, BinaryType())
_reverse = _udf(kernels.st_reverse, BinaryType())
_flip = _udf(kernels.st_flip_coordinates, BinaryType())
_rotate = _udf(kernels.st_rotate, BinaryType())
_scale = _udf(kernels.st_scale2, BinaryType())
_segmentize = _udf(kernels.st_segmentize, BinaryType())
_chaikin = _udf(kernels.st_chaikin_smoothing, BinaryType())
_simplify_vw = _udf(kernels.st_simplify_vw, BinaryType())
_line_substring = _udf(kernels.st_line_substring, BinaryType())
_reduce_precision = _udf(kernels.st_reduce_precision, BinaryType())
_line_merge = _udf(kernels.st_line_merge, BinaryType())
_subdivide = _udf(kernels.st_subdivide, ArrayType(BinaryType()))
_polygonize = _udf(kernels.st_polygonize, BinaryType())
_minbound_center = _udf(kernels.st_minbound_center, BinaryType())
_minbound_radius = _udf(kernels.st_minbound_radius, DoubleType())
_oriented_envelope = _udf(kernels.st_oriented_envelope, BinaryType())
_node = _udf(kernels.st_node, BinaryType())
_make_valid = _udf(kernels.st_make_valid, BinaryType())
_shortest_line = _udf(kernels.st_shortest_line, BinaryType())
_project = _udf(kernels.st_project, BinaryType())
_polygonize_fold = _udf(kernels.st_polygonize_all, BinaryType())


def st_length(g: GeomLike) -> Column:
    """Line length (PostGIS ST_Length; beyond-reference utility —
    0 for points/polygons, see st_perimeter)."""
    return _length(_geom(g))


def st_perimeter(g: GeomLike) -> Column:
    """Polygon ring length incl. holes (PostGIS ST_Perimeter;
    beyond-reference utility)."""
    return _perimeter(_geom(g))


def st_centroid(g: GeomLike) -> Column:
    """Centroid of the highest-dimension components (PostGIS/GEOS
    ST_Centroid; beyond-reference utility)."""
    return _centroid(_geom(g))


def st_envelope(g: GeomLike) -> Column:
    """Bounding box as a geometry, with PostGIS degenerate forms
    (POINT / LINESTRING for collapsed extents; ST_Envelope;
    beyond-reference utility)."""
    return _envelope(_geom(g))


def st_convexhull(g: GeomLike) -> Column:
    """Convex hull with GEOS degenerate semantics, canonical-CCW shell
    (PostGIS ST_ConvexHull; beyond-reference utility)."""
    return _convex_hull(_geom(g))


def st_simplify(g: GeomLike, tolerance) -> Column:
    """Douglas-Peucker simplification, non-topology-preserving
    (PostGIS ST_Simplify; beyond-reference utility)."""
    return _simplify(_geom(g), _num(tolerance, "double"))


def st_lineinterpolatepoint(g: GeomLike, fraction) -> Column:
    """Point at ``fraction`` of a LINESTRING's length, clamped to [0,1]
    (PostGIS ST_LineInterpolatePoint; beyond-reference utility)."""
    return _line_interp(_geom(g), _num(fraction, "double"))


def st_geohash(g: GeomLike, precision=0) -> Column:
    """Base-32 geohash of a lon/lat POINT (PostGIS ST_GeoHash;
    beyond-reference utility) — THE cheap spatial bucketing key for
    equi-join/group-by pipelines. precision <= 0 (the default, PostGIS
    parity) means full precision (20 chars)."""
    return _geohash(_geom(g), _num(precision, "int"))


def st_azimuth(a: GeomLike, b: GeomLike) -> Column:
    """Clockwise angle from north of a->b in [0, 2*pi); NULL for
    coincident points (PostGIS ST_Azimuth; beyond-reference)."""
    return _azimuth(_geom(a), _geom(b))


def st_closestpoint(a: GeomLike, b: GeomLike) -> Column:
    """The point ON a nearest to b — the witness of st_distance
    (PostGIS ST_ClosestPoint; beyond-reference utility)."""
    return _closest_point(_geom(a), _geom(b))


def st_contains(a: GeomLike, b: GeomLike) -> Column:
    """ST_Contains (PostGIS/DE-9IM; beyond-reference): covers + the
    interiors actually meet — a geometry does not contain its boundary
    (geo/relate.py)."""
    return _contains(_geom(a), _geom(b))


def st_within(a: GeomLike, b: GeomLike) -> Column:
    """ST_Within — converse of st_contains (PostGIS; beyond-reference)."""
    return _within(_geom(a), _geom(b))


def st_touches(a: GeomLike, b: GeomLike) -> Column:
    """ST_Touches: intersect at boundaries only (PostGIS;
    beyond-reference)."""
    return _touches(_geom(a), _geom(b))


def st_overlaps(a: GeomLike, b: GeomLike) -> Column:
    """ST_Overlaps: same-dimension partial interior overlap, neither
    covering the other (PostGIS; beyond-reference)."""
    return _overlaps(_geom(a), _geom(b))


def st_crosses(a: GeomLike, b: GeomLike) -> Column:
    """ST_Crosses: interiors meet in a lower dimension — lines crossing
    at points, a line passing through a polygon, a point set split
    across b (PostGIS; beyond-reference)."""
    return _crosses(_geom(a), _geom(b))


def _numcol(v) -> Column:
    return v if isinstance(v, Column) else F.lit(float(v))


def st_maxdistance(a: GeomLike, b: GeomLike) -> Column:
    """PostGIS ST_MaxDistance: largest distance between the two
    geometries (attained at a vertex pair)."""
    return _max_distance(_geom(a), _geom(b))


def st_longestline(a: GeomLike, b: GeomLike) -> Column:
    """PostGIS ST_LongestLine: the max-distance witness pair as a
    LINESTRING (deterministic smallest-pair tie-break)."""
    return _longest_line(_geom(a), _geom(b))


def st_buildarea(g: GeomLike) -> Column:
    """PostGIS ST_BuildArea: areal geometry from closed linework —
    even-odd nesting (enclosed faces become holes), dangling edges
    ignored, shared edges dissolved (geo/noding.py)."""
    return _build_area(_geom(g))


def st_geometricmedian(g: GeomLike) -> Column:
    """PostGIS ST_GeometricMedian over (multi)points: Weiszfeld
    iteration, fixed 8 rounds with 9-dp rounded iterates
    (deterministic; geo/metrics.py)."""
    return _geometric_median(_geom(g))


def st_azimuthsphere(a: GeomLike, b: GeomLike) -> Column:
    """Initial great-circle bearing a->b, radians clockwise from north
    (geography twin of ST_Azimuth; geo/proj.py)."""
    return _azimuth_sphere(_geom(a), _geom(b))


def st_projectsphere(g: GeomLike, distance_m, azimuth) -> Column:
    """Geography ST_Project: destination point dist meters along the
    great circle at the given initial bearing (mean-radius sphere)."""
    return _project_sphere(_geom(g), _numcol(distance_m),
                           _numcol(azimuth))


def st_projectspheroid(g: GeomLike, distance_m, azimuth) -> Column:
    """Spheroid ST_Project (geography default): destination point
    dist meters along the WGS84 geodesic at the given initial bearing
    — Vincenty direct problem, deterministic fixed iterations
    (geo/proj.py vincenty_direct); the ellipsoidal twin of
    st_projectsphere."""
    return _project_spheroid(_geom(g), _numcol(distance_m),
                             _numcol(azimuth))


def st_isempty(g: GeomLike) -> Column:
    """PostGIS ST_IsEmpty."""
    return _is_empty(_geom(g))


def st_dimension(g: GeomLike) -> Column:
    """PostGIS ST_Dimension: topological dimension (max over members;
    0 for empty, matching PostGIS's 0-for-POINT convention)."""
    return _dimension(_geom(g))


def st_exteriorring(g: GeomLike) -> Column:
    """PostGIS ST_ExteriorRing: polygon shell as a LINESTRING; NULL
    for non-polygons."""
    return _exterior_ring(_geom(g))


def st_interiorringn(g: GeomLike, n) -> Column:
    """PostGIS ST_InteriorRingN (1-based); NULL out of range."""
    k = n if isinstance(n, Column) else F.lit(int(n))
    return _interior_ring_n(_geom(g), k)


def st_numinteriorrings(g: GeomLike) -> Column:
    """PostGIS ST_NumInteriorRings; NULL for non-polygons."""
    return _num_interior_rings(_geom(g))


def st_boundingdiagonal(g: GeomLike) -> Column:
    """PostGIS ST_BoundingDiagonal: the bbox min->max corner
    LINESTRING (LINESTRING EMPTY for empty input)."""
    return _bounding_diagonal(_geom(g))


def st_tileenvelope(z, x, y) -> Column:
    """PostGIS ST_TileEnvelope: XYZ web-mercator tile bounds as a
    POLYGON stamped SRID 3857; NULL for out-of-range tiles."""
    def c(v):
        return v if isinstance(v, Column) else F.lit(int(v))
    return _tile_envelope(c(z), c(x), c(y))


def st_normalize(g: GeomLike) -> Column:
    """ST_Normalize (documented canonical form, geo/edit.py): shells
    CCW / holes CW at canonical starts, lines from their smaller
    endpoint, sorted multi-members. Idempotent; equality-after-
    normalize compares point sets."""
    return _normalize(_geom(g))


def st_distancesphere(a: GeomLike, b: GeomLike) -> Column:
    """PostGIS ST_DistanceSphere: great-circle meters between POINT
    lon/lat geometries (haversine on the mean-radius sphere,
    geo/proj.py). For the JVM-native scale path over raw lon/lat
    DOUBLE columns, inline the same formula with pyspark.sql.functions
    trig — this kernel is the geometry-typed convenience."""
    return _distance_sphere(_geom(a), _geom(b))


def st_distancespheroid(a: GeomLike, b: GeomLike) -> Column:
    """PostGIS ST_DistanceSpheroid (WGS84): ellipsoidal geodesic
    meters between POINT lon/lat geometries — Vincenty inverse with a
    deterministic fixed iteration count (geo/proj.py vincenty_m), the
    geography-ST_Distance-default twin of st_distancesphere (which
    underestimates by up to ~0.5% on the sphere)."""
    return _distance_spheroid(_geom(a), _geom(b))


def st_areasphere(g: GeomLike) -> Column:
    """Geography ST_Area twin: polygon area in m² on the mean-radius
    sphere (JPL edge-sum formula, geo/proj.py sphere_area_m2); holes
    subtracted, non-areal parts 0."""
    return _area_sphere(_geom(g))


def st_lengthsphere(g: GeomLike) -> Column:
    """Geography ST_Length twin: great-circle line length in meters
    (haversine per segment, geo/proj.py sphere_length_m); areal and
    puntal parts 0."""
    return _length_sphere(_geom(g))


def st_perimetersphere(g: GeomLike) -> Column:
    """Geography ST_Perimeter twin: great-circle ring length in meters
    over shells and holes (geo/proj.py sphere_perimeter_m)."""
    return _perimeter_sphere(_geom(g))


def st_offsetcurve(g: GeomLike, d, quadsegs=None) -> Column:
    """PostGIS ST_OffsetCurve: one-sided parallel of a (Multi)LineString
    — positive d left, negative d right with reversed output. Round
    outward joins, trimmed inward joins (geo/offset.py)."""
    if quadsegs is None:
        return _offset_curve(_geom(g), _numcol(d))
    q = quadsegs if isinstance(quadsegs, Column) else F.lit(int(quadsegs))
    return _offset_curve(_geom(g), _numcol(d), q)


def st_sharedpaths(a: GeomLike, b: GeomLike) -> Column:
    """PostGIS ST_SharedPaths: GC of (same-direction, opposite-
    direction) collinear-overlap MULTILINESTRINGs."""
    return _shared_paths(_geom(a), _geom(b))


def st_clipbybox2d(g: GeomLike, xmin, ymin, xmax, ymax) -> Column:
    """PostGIS ST_ClipByBox2D: overlay intersection with an axis-
    aligned rectangle (exact ST_Intersection semantics)."""
    return _clip_by_box(_geom(g), _numcol(xmin), _numcol(ymin),
                        _numcol(xmax), _numcol(ymax))


def st_maxinscribedcenter(g: GeomLike) -> Column:
    """Center of PostGIS ST_MaximumInscribedCircle (polylabel quadtree
    refinement, geo/bounding.py). Split across two functions like the
    min-bounding pair — Spark SQL UDFs return one column."""
    return _mic_center(_geom(g))


def st_maxinscribedradius(g: GeomLike) -> Column:
    """Radius of PostGIS ST_MaximumInscribedCircle."""
    return _mic_radius(_geom(g))


def st_snap(g: GeomLike, ref: GeomLike, tolerance) -> Column:
    """PostGIS ST_Snap: vertices of g within tolerance of a ref vertex
    move onto it; ref vertices near g's segments are inserted."""
    return _snap(_geom(g), _geom(ref), _numcol(tolerance))


def st_delaunaytriangles(g: GeomLike, flags=None) -> Column:
    """PostGIS ST_DelaunayTriangles (geo/triangulate.py Bowyer-Watson):
    flags 0/None = GEOMETRYCOLLECTION of triangles, 1 = MULTILINESTRING
    of unique edges."""
    if flags is None:
        return _delaunay(_geom(g))
    f = flags if isinstance(flags, Column) else F.lit(int(flags))
    return _delaunay(_geom(g), f)


def st_voronoipolygons(g: GeomLike, extend_to: "GeomLike | None" = None
                       ) -> Column:
    """PostGIS ST_VoronoiPolygons: cell polygons per distinct site,
    clipped to the input bbox expanded by its larger dimension (or the
    extend_to envelope)."""
    if extend_to is None:
        return _voronoi(_geom(g))
    return _voronoi(_geom(g), _geom(extend_to))


def st_concavehull(g: GeomLike, ratio) -> Column:
    """PostGIS ST_ConcaveHull (edge-length-ratio chi-shape; ratio 1 =
    convex hull, smaller = tighter)."""
    return _concave_hull(_geom(g), _numcol(ratio))


def st_generatepoints(g: GeomLike, n, seed=None) -> Column:
    """PostGIS ST_GeneratePoints: seeded deterministic uniform points
    inside a polygonal geometry."""
    nn = n if isinstance(n, Column) else F.lit(int(n))
    if seed is None:
        return _generate_points(_geom(g), nn)
    s = seed if isinstance(seed, Column) else F.lit(int(seed))
    return _generate_points(_geom(g), nn, s)


def st_isclosed(g: GeomLike) -> Column:
    """PostGIS ST_IsClosed: line start == end (all members for
    multi-lines); points/polygons are closed (geo/validity.py)."""
    return _is_closed(_geom(g))


def st_isring(g: GeomLike) -> Column:
    """PostGIS ST_IsRing: closed AND simple LINESTRING."""
    return _is_ring(_geom(g))


def st_issimple(g: GeomLike) -> Column:
    """PostGIS/OGC ST_IsSimple: no anomalous self-intersection."""
    return _is_simple(_geom(g))


def st_isvalid(g: GeomLike) -> Column:
    """PostGIS ST_IsValid (geo/validity.py rule set; the interior-
    connectedness rule is documented out of scope)."""
    return _is_valid(_geom(g))


def st_isvalidreason(g: GeomLike) -> Column:
    """PostGIS ST_IsValidReason: 'Valid Geometry' or the first
    violation with its [x y] location."""
    return _is_valid_reason(_geom(g))


def st_pointonsurface(g: GeomLike) -> Column:
    """PostGIS ST_PointOnSurface: a point guaranteed ON the geometry
    (GEOS interior-point algorithms, geo/metrics.py)."""
    return _point_on_surface(_geom(g))


def st_hausdorffdistance(a: GeomLike, b: GeomLike) -> Column:
    """PostGIS ST_HausdorffDistance (discrete form, vertex-to-geometry
    — what GEOS computes without densification)."""
    return _hausdorff(_geom(a), _geom(b))


def st_frechetdistance(a: GeomLike, b: GeomLike) -> Column:
    """PostGIS ST_FrechetDistance (discrete, ordered vertex walks —
    direction-sensitive unlike Hausdorff)."""
    return _frechet(_geom(a), _geom(b))


def st_affine(g: GeomLike, a, b, d, e, xoff, yoff) -> Column:
    """PostGIS ST_Affine (2D): x' = a·x + b·y + xoff,
    y' = d·x + e·y + yoff (geo/edit.py; beyond-reference)."""
    return _affine(_geom(g), _numcol(a), _numcol(b), _numcol(d),
                   _numcol(e), _numcol(xoff), _numcol(yoff))


def st_expand(g: GeomLike, dx, dy=None) -> Column:
    """PostGIS ST_Expand: bounding box grown by dx/dy, as a POLYGON."""
    if dy is None:
        return _expand(_geom(g), _numcol(dx))
    return _expand(_geom(g), _numcol(dx), _numcol(dy))


def st_angle(p1: GeomLike, p2: GeomLike, p3: GeomLike,
             p4: "GeomLike | None" = None) -> Column:
    """PostGIS ST_Angle over POINTs: 3-point form = angle at vertex p2
    of p1-p2-p3; 4-point form = clockwise angle from direction p1→p2
    to p3→p4. Radians in [0, 2π)."""
    if p4 is None:
        return _angle(_geom(p1), _geom(p2), _geom(p3))
    return _angle(_geom(p1), _geom(p2), _geom(p3), _geom(p4))


def st_removerepeatedpoints(g: GeomLike, tolerance=None) -> Column:
    """PostGIS ST_RemoveRepeatedPoints: consecutive vertices closer
    than the tolerance dissolved (exact duplicates by default)."""
    if tolerance is None:
        return _remove_repeated(_geom(g))
    return _remove_repeated(_geom(g), _numcol(tolerance))


def st_snaptogrid(g: GeomLike, size) -> Column:
    """PostGIS ST_SnapToGrid (origin 0): coords to grid multiples,
    duplicates dissolved, collapsed parts dropped."""
    return _snap_to_grid(_geom(g), _numcol(size))


def st_addpoint(g: GeomLike, pt: GeomLike, pos=None) -> Column:
    """PostGIS ST_AddPoint: insert a POINT into a LINESTRING before
    0-based index pos (default append)."""
    if pos is None:
        return _add_point(_geom(g), _geom(pt))
    p = pos if isinstance(pos, Column) else F.lit(int(pos))
    return _add_point(_geom(g), _geom(pt), p)


def st_setpoint(g: GeomLike, pos, pt: GeomLike) -> Column:
    """PostGIS ST_SetPoint: replace vertex pos (negative from end) of a
    LINESTRING."""
    p = pos if isinstance(pos, Column) else F.lit(int(pos))
    return _set_point(_geom(g), p, _geom(pt))


def st_removepoint(g: GeomLike, pos) -> Column:
    """PostGIS ST_RemovePoint: drop vertex pos of a LINESTRING."""
    p = pos if isinstance(pos, Column) else F.lit(int(pos))
    return _remove_point(_geom(g), p)


def st_multi(g: GeomLike) -> Column:
    """PostGIS ST_Multi: promote to the multi-type."""
    return _multi(_geom(g))


def st_collectionextract(g: GeomLike, dimtype) -> Column:
    """PostGIS ST_CollectionExtract: members of type 1=points 2=lines
    3=polygons as a multi-geometry."""
    t = dimtype if isinstance(dimtype, Column) else F.lit(int(dimtype))
    return _collection_extract(_geom(g), t)


def st_collectionhomogenize(g: GeomLike) -> Column:
    """PostGIS ST_CollectionHomogenize: simplest representation of the
    collection contents."""
    return _collection_homogenize(_geom(g))


def st_dump(g: GeomLike) -> Column:
    """PostGIS ST_Dump, Spark-shaped: ARRAY of member WKBs — compose
    with explode() for the set-returning form."""
    return _dump(_geom(g))


def st_dumppoints(g: GeomLike) -> Column:
    """PostGIS ST_DumpPoints, Spark-shaped: ARRAY of vertex POINTs in
    coordinate order."""
    return _dump_points(_geom(g))


def st_relate(a: GeomLike, b: GeomLike,
              pattern: "Column | str | None" = None) -> Column:
    """PostGIS ST_Relate (beyond-reference; geo/de9im.py): without a
    pattern, the 9-char DE-9IM matrix string of a vs b; with one, the
    boolean matrix-vs-pattern test. NULL for GeometryCollection /
    mixed-dimension inputs (GEOS refuses those too)."""
    if pattern is None:
        return _relate(_geom(a), _geom(b))
    pat = pattern if isinstance(pattern, Column) else F.lit(pattern)
    return _relate_pattern(_geom(a), _geom(b), pat)


def st_relatematch(matrix: "Column | str", pattern: "Column | str") -> Column:
    """PostGIS ST_RelateMatch: DE-9IM matrix string vs intersection
    pattern ('T'/'F'/'0'/'1'/'2'/'*'). Pure string logic — usable on
    precomputed matrices. In SQL the 3-arg relate form is spelled
    st_relatematch(st_relate(a, b), pattern)."""
    m = matrix if isinstance(matrix, Column) else F.lit(matrix)
    p = pattern if isinstance(pattern, Column) else F.lit(pattern)
    return _relate_match(m, p)


def st_intersection(a: GeomLike, b: GeomLike) -> Column:
    """Geometric intersection (PostGIS ST_Intersection; beyond-reference
    — the reference has no set ops). Polygon×polygon is the dissolving
    boundary-classification overlay (geo/overlay.py); line/point
    operands clip; dimensional collapses are dropped (documented
    deviation: touching polygons -> POLYGON EMPTY, not LINESTRING)."""
    return _intersection(_geom(a), _geom(b))


def st_union(a: GeomLike, b: GeomLike) -> Column:
    """Pairwise geometric union (PostGIS ST_Union; beyond-reference).
    Areal inputs dissolve shared boundaries; mixed dimensions return
    GEOMETRYCOLLECTION((a - b), b). For the aggregate form see
    st_union_agg."""
    return _union_pair(_geom(a), _geom(b))


def st_difference(a: GeomLike, b: GeomLike) -> Column:
    """Geometric difference a - b (PostGIS ST_Difference;
    beyond-reference). Lower-dimensional b leaves a unchanged."""
    return _difference(_geom(a), _geom(b))


def st_union_agg(g: Column) -> Column:
    """ST_Union AGGREGATE over a WKB geometry column: JVM-side
    collect_list gathers the group (no Python in the shuffle), then one
    vectorized fold per GROUP dissolves it (kernels.st_union_all). Use
    inside groupBy().agg(...); group sizes bound the fold cost."""
    return _union_fold(F.collect_list(g))


def st_polygonize(g: GeomLike) -> Column:
    """ST_Polygonize of ONE geometry's linework (typically a
    MultiLineString/collection; PostGIS parity on correctly-noded
    input — no noding is performed). Bounded faces come back as
    (Multi)Polygon, holes assigned, GEOMETRYCOLLECTION EMPTY when the
    linework closes nothing."""
    return _polygonize(_geom(g))


def st_polygonize_agg(g: Column) -> Column:
    """ST_Polygonize AGGREGATE over a WKB geometry column: JVM-side
    collect_list gathers the group's linework (no Python in the
    shuffle), then one planar face walk per GROUP assembles the faces
    (kernels.st_polygonize_all). Use inside groupBy().agg(...)."""
    return _polygonize_fold(F.collect_list(g))


def st_node(g: GeomLike) -> Column:
    """ST_Node: fully node lineal input — every path split at each
    crossing / endpoint touch, duplicate pieces dissolved (PostGIS;
    beyond-reference)."""
    return _node(_geom(g))


def st_makevalid(g: GeomLike) -> Column:
    """ST_MakeValid, LINEWORK method (PostGIS; beyond-reference): node
    the boundary rings, polygonize the arrangement, keep odd even-odd
    parity faces, drop zero-area spikes. Bowties split, pinches become
    multipolygons, overlapping multipolygon members XOR (the documented
    linework behavior); valid input round-trips. Non-areal input is
    returned unchanged."""
    return _make_valid(_geom(g))


def st_shortestline(a: GeomLike, b: GeomLike) -> Column:
    """ST_ShortestLine: the 2-point LINESTRING realizing
    distance(a, b) (PostGIS; beyond-reference). Intersecting operands
    yield the degenerate zero-length line at the shared witness."""
    return _shortest_line(_geom(a), _geom(b))


def st_project(g: GeomLike, distance, azimuth) -> Column:
    """ST_Project (planar geometry form): point ``distance`` away along
    ``azimuth`` radians clockwise from north — the ST_Azimuth
    convention, so st_azimuth(p, st_project(p, d, az)) == az."""
    return _project(_geom(g), _num(distance, "double"),
                    _num(azimuth, "double"))


def st_minimumboundingradius(g: GeomLike) -> Column:
    """Radius of the smallest enclosing circle (the radius field of
    PostGIS ST_MinimumBoundingRadius's record; the center is
    st_minboundcenter — Spark SQL UDFs return one column, so the
    record splits into two functions, documented deviation)."""
    return _minbound_radius(_geom(g))


def st_minboundcenter(g: GeomLike) -> Column:
    """Center POINT of the smallest enclosing circle (the center field
    of PostGIS ST_MinimumBoundingRadius's record)."""
    return _minbound_center(_geom(g))


def st_orientedenvelope(g: GeomLike) -> Column:
    """ST_OrientedEnvelope: minimum-area rotated rectangle (PostGIS;
    beyond-reference). Degenerates like PostGIS (point/collinear
    inputs); deterministic canonical ring start."""
    return _oriented_envelope(_geom(g))


def st_symdifference(a: GeomLike, b: GeomLike) -> Column:
    """ST_SymDifference — points in exactly one operand (PostGIS;
    beyond-reference). Areal pairs are a single overlay pass
    (geo/overlay.py symdifference)."""
    return _symdifference(_geom(a), _geom(b))


def st_reverse(g: GeomLike) -> Column:
    """ST_Reverse: vertex order flipped (PostGIS; beyond-reference)."""
    return _reverse(_geom(g))


def st_flipcoordinates(g: GeomLike) -> Column:
    """ST_FlipCoordinates: (x, y) -> (y, x) (PostGIS;
    beyond-reference)."""
    return _flip(_geom(g))


def st_rotate(g: GeomLike, angle, x0=None, y0=None) -> Column:
    """ST_Rotate: CCW radians about (x0, y0), origin by default
    (PostGIS; beyond-reference)."""
    if x0 is None:
        return _rotate(_geom(g), _num(angle, "double"))
    return _rotate(_geom(g), _num(angle, "double"),
                   _num(x0, "double"), _num(y0 if y0 is not None else 0.0,
                                            "double"))


def st_scale(g: GeomLike, sx, sy) -> Column:
    """ST_Scale about the origin (PostGIS; beyond-reference)."""
    return _scale(_geom(g), _num(sx, "double"), _num(sy, "double"))


def st_segmentize(g: GeomLike, max_len) -> Column:
    """ST_Segmentize: no segment longer than max_len, minimal equal
    splits per segment (PostGIS/GEOS; beyond-reference)."""
    return _segmentize(_geom(g), _num(max_len, "double"))


def st_chaikinsmoothing(g: GeomLike, iterations=1) -> Column:
    """ST_ChaikinSmoothing: iterative 1/4–3/4 corner cutting on lines
    and polygon rings; iterations clamp to [1, 5] (PostGIS parity,
    geo/edit.py)."""
    return _chaikin(_geom(g), _num(iterations, "double"))


def st_simplifyvw(g: GeomLike, tolerance) -> Column:
    """ST_SimplifyVW: Visvalingam–Whyatt area-threshold simplification
    (smallest effective triangle removed first; rings keep at least a
    triangle — geo/edit.py)."""
    return _simplify_vw(_geom(g), _num(tolerance, "double"))


def st_linesubstring(g: GeomLike, start, end) -> Column:
    """ST_LineSubstring: the fractional arc-length window [start, end]
    of a LINESTRING; start == end yields the interpolated point
    (PostGIS; beyond-reference)."""
    return _line_substring(_geom(g), _num(start, "double"),
                           _num(end, "double"))


def st_reduceprecision(g: GeomLike, gridsize) -> Column:
    """Grid-snap coordinates to multiples of gridsize (PostGIS
    ST_ReducePrecision minus the GEOS validity repair — documented;
    beyond-reference)."""
    return _reduce_precision(_geom(g), _num(gridsize, "double"))


def st_linemerge(g: GeomLike) -> Column:
    """ST_LineMerge: sew (Multi)LineString linework at degree-2 nodes,
    reversing pieces as needed (PostGIS/GEOS semantics with a
    deterministic input-order chain start; beyond-reference). Non-lineal
    input yields GEOMETRYCOLLECTION EMPTY."""
    return _line_merge(_geom(g))


def st_subdivide(g: GeomLike, max_vertices=128) -> Column:
    """ST_Subdivide: recursive longer-axis halving until every piece has
    <= max_vertices vertices (PostGIS; beyond-reference). Returns
    array<wkb> — explode() it for the PostGIS set-returning shape. The
    pre-shard step that keeps per-pair refinement bounded when joining
    continent-sized polygons at scale."""
    return _subdivide(_geom(g), _num(max_vertices, "int"))


def st_linelocatepoint(g: GeomLike, p: GeomLike) -> Column:
    """Fraction of the line's length at the closest point to p —
    the inverse of st_lineinterpolatepoint (PostGIS ST_LineLocatePoint;
    beyond-reference utility)."""
    return _line_locate(_geom(g), _geom(p))


def st_distance(a: GeomLike, b: GeomLike) -> Column:
    """Minimum planar distance; NULL for empty operands (PostGIS
    ST_Distance; beyond-reference utility)."""
    return _distance(_geom(a), _geom(b))


_transform = _udf(kernels.transform_srid, BinaryType())


def st_transform(g: GeomLike, to_srid, from_srid=None) -> Column:
    """ST_Transform for EPSG:4326 <-> EPSG:3857 (spherical web
    mercator, closed-form — geo/proj.py; beyond-reference utility).
    PostGIS semantics: source SRID from the geometry's EWKB header, or
    ``from_srid`` for plain-WKB inputs; output stamped with to_srid."""
    if from_srid is None:
        return _transform(_geom(g), _num(to_srid, "int"))
    return _transform(_geom(g), _num(to_srid, "int"),
                       _num(from_srid, "int"))


_x = _udf(kernels.st_x, DoubleType())
_y = _udf(kernels.st_y, DoubleType())
_num_geometries = _udf(kernels.num_geometries, IntegerType())
_geometry_n = _udf(kernels.geometry_n, BinaryType())
_point_n = _udf(kernels.point_n, BinaryType())


def st_x(g: GeomLike) -> Column:
    """x of a POINT, NULL otherwise (PostGIS ST_X; beyond-reference)."""
    return _x(_geom(g))


def st_y(g: GeomLike) -> Column:
    """y of a POINT, NULL otherwise (PostGIS ST_Y; beyond-reference)."""
    return _y(_geom(g))


def st_numgeometries(g: GeomLike) -> Column:
    """Member count (PostGIS ST_NumGeometries; beyond-reference)."""
    return _num_geometries(_geom(g))


def st_geometryn(g: GeomLike, n) -> Column:
    """1-based nth member (PostGIS ST_GeometryN; beyond-reference)."""
    return _geometry_n(_geom(g), _num(n, "int"))


def st_pointn(g: GeomLike, n) -> Column:
    """1-based nth vertex of a LINESTRING, negative from the end
    (PostGIS ST_PointN; beyond-reference)."""
    return _point_n(_geom(g), _num(n, "int"))


def st_startpoint(g: GeomLike) -> Column:
    """First vertex of a LINESTRING (PostGIS ST_StartPoint)."""
    return _point_n(_geom(g), F.lit(1))


def st_endpoint(g: GeomLike) -> Column:
    """Last vertex of a LINESTRING (PostGIS ST_EndPoint)."""
    return _point_n(_geom(g), F.lit(-1))


def st_dwithin(a: GeomLike, b: GeomLike, d) -> Column:
    """distance(a, b) <= d (PostGIS ST_DWithin; beyond-reference
    utility). For distance-band JOINS prefer expanding one side's bbox
    by d and using the grid/broadcast spatial-join machinery
    (operators/spatial_join.py) with this as the exact refinement."""
    return _dwithin(_geom(a), _geom(b), _num(d, "double"))


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


def st_extent(g: GeomLike) -> Column:
    """#19 st_extent directly over a geometry column. Prefer materializing
    ``box2d(geom)`` once (``df.withColumn("bbox", box2d(g))``) then
    ``st_extent_agg(col("bbox"))`` — one Python eval instead of four."""
    return st_extent_agg(box2d(g))


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
    body = F.array_join(
        F.transform(pts, lambda p: F.concat(p["x"].cast("string"),
                                            F.lit(" "),
                                            p["y"].cast("string"))), ",")
    return F.when(F.size(pts) > 0,
                  F.concat(F.lit("MULTIPOINT("), body, F.lit(")"))) \
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
    body = F.array_join(
        F.transform(pts, lambda p: F.concat(p["x"].cast("string"),
                                            F.lit(" "),
                                            p["y"].cast("string"))), ",")
    return F.when(F.size(pts) >= 2,
                  F.concat(F.lit("LINESTRING("), body, F.lit(")"))) \
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
_geom_bbox_from_text = _udf(kernels.geom_bbox_from_text, GEOM_BBOX_TYPE)


def st_geom_with_bbox_from_text(wkt: Union[Column, str]) -> Column:
    """Fused ST_GeomFromText + Box2D: struct{geom,xmin,ymin,xmax,ymax} in
    one Python crossing instead of two chained pandas-UDF stages. Use at
    ingest so downstream spatial joins read native bbox columns
    (ensure_bbox skips its Python pass when they exist)."""
    c = wkt if isinstance(wkt, Column) else F.lit(wkt)
    return _geom_bbox_from_text(c)


_point_bbox_from_xy = _udf(kernels.point_bbox_from_xy, GEOM_BBOX_TYPE)


def st_point_with_bbox(x, y) -> Column:
    """Fused ST_Point + Box2D (r11): struct{geom,xmin,ymin,xmax,ymax}
    in ONE Python crossing — the POINT analogue of
    st_geom_with_bbox_from_text, for ingest paths that derive point
    geometry from coordinate columns."""
    return _point_bbox_from_xy(_num(x, "double"), _num(y, "double"))


_BOX_PIECES_TYPE = StructType([
    StructField("areas", ArrayType(DoubleType())),
    StructField("npts", ArrayType(IntegerType()))])
_box_subdivide_stats = _udf(kernels.box_subdivide_stats,
                              _BOX_PIECES_TYPE)


def st_box_subdivide_stats(xmin, ymin, xmax, ymax, seg, maxv) -> Column:
    """Fused ST_MakeEnvelope -> ST_Segmentize -> ST_Subdivide ->
    per-piece (ST_Area, ST_NPoints) in ONE Python crossing (r12):
    struct{areas: array<double>, npts: array<int>} aligned per piece.
    Byte-identical to the five-stage spelling (same kernels, same
    order, no WKB hops between them); NULL in == NULL out."""
    return _box_subdivide_stats(
        _num(xmin, "double"), _num(ymin, "double"),
        _num(xmax, "double"), _num(ymax, "double"),
        _num(seg, "double"), _num(maxv, "int"))


_wkt_roundtrip = _udf(kernels.wkt_roundtrip, StringType())


def st_wkt_canonical(wkt: Union[Column, str]) -> Column:
    """Fused ST_AsText(ST_GeomFromText(x)): canonical-form WKT in one
    Python crossing instead of two chained pandas-UDF stages (same fusion
    rationale as st_geom_with_bbox_from_text; null in → null out)."""
    c = wkt if isinstance(wkt, Column) else F.lit(wkt)
    return _wkt_roundtrip(c)


# -- SQL registration ---------------------------------------------------

_SQL_UDFS = {
    # Every UDF is variadic, so ST_GeomFromText('…') and
    # ST_GeomFromText('…', 4326) both resolve — true overload parity with
    # the reference's one_of signatures. <name>SRID kept as aliases.
    "ST_GeomFromText": _geom_from_text,
    "ST_GeomFromTextSRID": _geom_from_text,
    "ST_GeomFromWKB": _geom_from_wkb,
    "ST_GeomFromWKBSRID": _geom_from_wkb,
    "ST_GeomFromWKBDialect": _geom_from_wkb_dialect,
    "ST_GeomFromGeoJSON": _geom_from_geojson,
    "ST_AsText": _as_text,
    "ST_AsEWKT": _as_ewkt,
    "ST_AsGeoJSON": _as_geojson,
    "ST_GeometryType": _geometry_type,
    "Box2D": _box2d,
    "ST_MakeEnvelope": _make_envelope,
    "ST_MakeEnvelopeSRID": _make_envelope,
    "ST_Intersects": _intersects,
    "ST_Disjoint": _disjoint,
    "ST_Covers": _covers,
    "ST_CoveredBy": _covered_by,
    "ST_Equals": _equals,
    "ST_Translate": _translate,
    "ST_Buffer": _buffer,
    "ST_Boundary": _boundary_udf,
    "ST_Split": _split,
    "ST_SRID": _srid,
    "ST_SetSRID": _set_srid,
    "ST_AsMVTGeom": _as_mvt_geom,
    "ST_Point": _point,
    "ST_NPoints": _npoints,
    "ST_Area": _area,
    "ST_Extent": _extent_sql,
    "ST_Box2DFromArray": _box2d_from_array,
    "ST_Length": _length,
    "ST_Perimeter": _perimeter,
    "ST_Centroid": _centroid,
    "ST_Envelope": _envelope,
    "ST_ConvexHull": _convex_hull,
    "ST_Simplify": _simplify,
    "ST_LineInterpolatePoint": _line_interp,
    "ST_LineLocatePoint": _line_locate,
    "ST_GeoHash": _geohash,
    "ST_Azimuth": _azimuth,
    "ST_ClosestPoint": _closest_point,
    "ST_Distance": _distance,
    "ST_DWithin": _dwithin,
    "ST_Contains": _contains,
    "ST_Within": _within,
    "ST_Touches": _touches,
    "ST_Overlaps": _overlaps,
    "ST_Crosses": _crosses,
    "ST_Relate": _relate,
    "ST_RelateMatch": _relate_match,
    "ST_DistanceSphere": _distance_sphere,
    "ST_DistanceSpheroid": _distance_spheroid,
    "ST_AreaSphere": _area_sphere,
    "ST_LengthSphere": _length_sphere,
    "ST_PerimeterSphere": _perimeter_sphere,
    "ST_MaxDistance": _max_distance,
    "ST_LongestLine": _longest_line,
    "ST_BuildArea": _build_area,
    "ST_GeometricMedian": _geometric_median,
    "ST_AzimuthSphere": _azimuth_sphere,
    "ST_ProjectSphere": _project_sphere,
    "ST_ProjectSpheroid": _project_spheroid,
    "ST_IsEmpty": _is_empty,
    "ST_Dimension": _dimension,
    "ST_ExteriorRing": _exterior_ring,
    "ST_InteriorRingN": _interior_ring_n,
    "ST_NumInteriorRings": _num_interior_rings,
    "ST_BoundingDiagonal": _bounding_diagonal,
    "ST_TileEnvelope": _tile_envelope,
    "ST_Normalize": _normalize,
    "ST_OffsetCurve": _offset_curve,
    "ST_SharedPaths": _shared_paths,
    "ST_ClipByBox2D": _clip_by_box,
    "ST_MaxInscribedCenter": _mic_center,
    "ST_MaxInscribedRadius": _mic_radius,
    "ST_Snap": _snap,
    "ST_DelaunayTriangles": _delaunay,
    "ST_VoronoiPolygons": _voronoi,
    "ST_ConcaveHull": _concave_hull,
    "ST_GeneratePoints": _generate_points,
    "ST_IsClosed": _is_closed,
    "ST_IsRing": _is_ring,
    "ST_IsSimple": _is_simple,
    "ST_IsValid": _is_valid,
    "ST_IsValidReason": _is_valid_reason,
    "ST_PointOnSurface": _point_on_surface,
    "ST_HausdorffDistance": _hausdorff,
    "ST_FrechetDistance": _frechet,
    "ST_Affine": _affine,
    "ST_Expand": _expand,
    "ST_Angle": _angle,
    "ST_RemoveRepeatedPoints": _remove_repeated,
    "ST_SnapToGrid": _snap_to_grid,
    "ST_AddPoint": _add_point,
    "ST_SetPoint": _set_point,
    "ST_RemovePoint": _remove_point,
    "ST_Multi": _multi,
    "ST_CollectionExtract": _collection_extract,
    "ST_CollectionHomogenize": _collection_homogenize,
    "ST_Dump": _dump,
    "ST_DumpPoints": _dump_points,
    "ST_Intersection": _intersection,
    "ST_Union": _union_pair,
    "ST_Difference": _difference,
    "ST_UnionFromArray": _union_fold,
    "ST_SymDifference": _symdifference,
    "ST_Reverse": _reverse,
    "ST_FlipCoordinates": _flip,
    "ST_Rotate": _rotate,
    "ST_Scale": _scale,
    "ST_Segmentize": _segmentize,
    "ST_ChaikinSmoothing": _chaikin,
    "ST_SimplifyVW": _simplify_vw,
    "ST_LineSubstring": _line_substring,
    "ST_ReducePrecision": _reduce_precision,
    "ST_LineMerge": _line_merge,
    "ST_Subdivide": _subdivide,
    "ST_Polygonize": _polygonize,
    "ST_MinimumBoundingRadius": _minbound_radius,
    "ST_MinBoundCenter": _minbound_center,
    "ST_OrientedEnvelope": _oriented_envelope,
    "ST_Node": _node,
    "ST_MakeValid": _make_valid,
    "ST_ShortestLine": _shortest_line,
    "ST_Project": _project,
    "ST_Transform": _transform,
    "ST_X": _x,
    "ST_Y": _y,
    "ST_NumGeometries": _num_geometries,
    "ST_GeometryN": _geometry_n,
    "ST_PointN": _point_n,
    "ST_StartPoint": _udf(kernels.start_point, BinaryType()),
    "ST_EndPoint": _udf(kernels.end_point, BinaryType()),
}


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
