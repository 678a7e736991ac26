"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Oracle strategy (no DuckDB ``spatial`` extension is installable in this
environment): every fixture derives geometry *analytically* from numeric
columns (FIXTURES.md §2), so each oracle reproduces the expected WKT /
boolean / bbox with plain ANSI SQL arithmetic + string building. Literal
(table-free) queries are golden tests whose expected strings come from the
reference's own unit tests (SURVEY.md §5).
"""

from __future__ import annotations

import math
import os
import sys
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

# Self-locate: queries/oracles lazily import datafusion_geo_spark, so a
# driver loading this file by PATH (spec_from_file_location from another
# cwd) must still resolve the sibling package.
_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

SF_SMOKE = "/root/testdata/sf0.001"

# Null convention shared by fixtures and oracles (FIXTURES.md §2):
# geometry is NULL when the key is divisible by 7.
_NULLIF = "{k} % 7 = 0"


def _rb6(col):
    """Half-away-from-zero at 6 dp on the BINARY double — the rounding
    every oracle-compared double in this file uses. ``F.round`` rounds
    the shortest-decimal repr (HALF_UP via BigDecimal.valueOf) while
    DuckDB rounds the binary value; they diverged live on
    transform_points at lon=±159 (x = 17699799.0361305, exactly on the
    6-dp half in shortest-decimal form — CORRECTNESS_r04's one red row).
    Every oracle mirrors the identical formula inline
    (operators.util.ROUND6_SQL), so both engines run the same IEEE op
    sequence and agree whenever the pre-round double agrees."""
    from datafusion_geo_spark.operators.util import round6_binary
    return round6_binary(col)


def _rb2(col):
    """2-dp (centimeter) twin of _rb6 for UTM coordinates: the oracle
    expands sinh/cosh/atanh via exp/ln (DuckDB has no hyperbolics), so
    the pre-round doubles differ from libm by a few ulp (~1e-9 at 1e6 m)
    — far below the 0.01 grid, so cm-rounding is boundary-safe where
    6 dp would not be."""
    from datafusion_geo_spark.operators.util import round_binary
    return round_binary(col, 2)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: full-scan spatial predicate over the
    reference's own bench workload shape
    (/root/reference/benches/geo_lib.rs:22 —
    ``SELECT ST_Intersects(geom, ST_GeomFromText('POINT(10 11)')) FROM t``)."""
    return _q_intersects_lines(spark, SF_SMOKE)


# ---------------------------------------------------------------- queries

def _q_wkt_roundtrip_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#1 ST_GeomFromText + #3 ST_AsText round-trip over lineitem points.

    Uses the fused construct+serialize kernel (st_wkt_canonical): the
    null-injection moves to the WKT argument, which is equivalent because
    both operators are null-in → null-out, and it halves the Python
    crossings vs chaining st_astext(st_geomfromtext(...))."""
    from datafusion_geo_spark.functions import st_wkt_canonical
    from datafusion_geo_spark.sources.fixtures import _spread, load_table
    li = load_table(spark, sf_dir, "lineitem")
    wkt = F.concat(F.lit("POINT("), (F.col("l_orderkey") % 1000).cast("string"),
                   F.lit(" "), (F.col("l_partkey") % 1000).cast("string"),
                   F.lit(")"))
    # _spread BEFORE the string build and the pandas UDF: the test
    # parquet ships one row group per file, so the scan cannot split —
    # without this the whole Python stage runs in a single task, and the
    # WKT concat would run (and shuffle its strings) single-task too.
    # Only the three int columns cross the spreading shuffle.
    # (No-op at production scale.)
    df = _spread(li.select("l_orderkey", "l_linenumber", "l_partkey"))
    return df.select(
        "l_orderkey", "l_linenumber",
        st_wkt_canonical(F.when(F.col("l_orderkey") % 7 != 0, wkt))
        .alias("wkt_out"),
    )


def _q_intersects_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#9 ST_Intersects full-scan over the big points table — the bench
    flagship's exact kernel and shape (bench.py::flagship, the
    reference's criterion workload /root/reference/benches/geo_lib.rs:22)
    finally under its own oracle (r6 verdict "What's missing" #4).
    l_linenumber is included so the compare has a clean row identity."""
    from datafusion_geo_spark.functions import st_intersects
    from datafusion_geo_spark.sources.fixtures import points_lineitem
    df = points_lineitem(spark, sf_dir, with_nulls=False)
    return df.select(
        "l_orderkey", "l_linenumber",
        st_intersects(F.col("geom"), "POINT(10 11)").alias("hit"))


def _q_intersects_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#9 ST_Intersects: column × literal scalar, the bench workload
    (/root/reference/benches/geo_lib.rs:22; mixed scalar/array args as in
    /root/reference/src/function/intersects.rs:199)."""
    from datafusion_geo_spark.functions import st_intersects
    from datafusion_geo_spark.sources.fixtures import lines_orders
    df = lines_orders(spark, sf_dir)
    return df.select(
        "o_orderkey",
        st_intersects(F.col("geom"), "POINT(10 11)").alias("hit"),
    )


def _q_extent_by_mktsegment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#19 st_extent grouped aggregate, mirroring the reference's
    ``group by name order by name`` test
    (/root/reference/src/function/extent.rs:205). Lowered to native
    partial/final min-max HashAggregate (SURVEY.md §2.1 #19)."""
    from datafusion_geo_spark.functions import st_extent_agg
    from datafusion_geo_spark.sources.fixtures import points_customer
    # with_bbox (r11): the fused st_point_with_bbox fixture already
    # carries Box2D columns from the SAME single Python crossing that
    # built the geometry (identical values to box2d(geom) — a point's
    # bbox is its coordinate pair; parity-pinned in
    # tests/test_geo_core.py::test_point_with_bbox_matches_box2d), so
    # the separate Box2D ArrowEvalPython stage disappears — one Python
    # crossing instead of two (guide §4.1).
    df = points_customer(spark, sf_dir, with_bbox=True)
    bbox = F.struct(F.col("xmin"), F.col("ymin"),
                    F.col("xmax"), F.col("ymax"))
    ext = (df.withColumn("bbox", bbox)
             .groupBy("c_mktsegment")
             .agg(st_extent_agg(F.col("bbox")).alias("extent")))
    return ext.select(
        "c_mktsegment",
        F.col("extent.xmin").alias("xmin"), F.col("extent.ymin").alias("ymin"),
        F.col("extent.xmax").alias("xmax"), F.col("extent.ymax").alias("ymax"),
    )


def _q_extent_sql_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#19 st_extent via the SQL-registered UDAF — the reference's own SQL
    shape ``select ST_Extent(geom), name … group by name``
    (/root/reference/src/function/extent.rs:205) as a drop-in. Grouped-agg
    pandas UDFs return arrays, so ST_Box2DFromArray recovers the Box2d
    struct. Correctness twin of extent_by_mktsegment (same oracle); the
    native min-max lowering there remains the scale path."""
    from datafusion_geo_spark.functions import register_all
    from datafusion_geo_spark.sources.fixtures import points_customer
    register_all(spark)
    points_customer(spark, sf_dir).createOrReplaceTempView("pts_extent_sql")
    return spark.sql("""
        SELECT c_mktsegment, b.xmin AS xmin, b.ymin AS ymin,
               b.xmax AS xmax, b.ymax AS ymax
        FROM (SELECT c_mktsegment,
                     ST_Box2DFromArray(ST_Extent(geom)) AS b
              FROM pts_extent_sql GROUP BY c_mktsegment)
    """)


def _q_box2d_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#7 Box2D per-row bounds over the linestring fixture."""
    from datafusion_geo_spark.functions import box2d
    from datafusion_geo_spark.sources.fixtures import lines_orders
    df = lines_orders(spark, sf_dir).withColumn("bbox", box2d(F.col("geom")))
    return df.select(
        "o_orderkey",
        F.col("bbox.xmin").alias("xmin"), F.col("bbox.ymin").alias("ymin"),
        F.col("bbox.xmax").alias("xmax"), F.col("bbox.ymax").alias("ymax"),
    )


def _q_translate_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#13 ST_Translate (+#3 serializer) over lineitem points."""
    from datafusion_geo_spark.functions import st_astext, st_translate
    from datafusion_geo_spark.sources.fixtures import points_lineitem
    df = points_lineitem(spark, sf_dir)
    return df.select(
        "l_orderkey", "l_linenumber",
        st_astext(st_translate(F.col("geom"), 1.5, 2.5)).alias("wkt_out"),
    )


def _q_covers_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#8 ST_MakeEnvelope + #10 ST_Covers + #11 ST_CoveredBy: nation
    envelopes against a literal probe point."""
    from datafusion_geo_spark.functions import geom_lit, st_coveredby, st_covers
    from datafusion_geo_spark.sources.fixtures import boxes_nation
    df = boxes_nation(spark, sf_dir)
    pt = geom_lit("POINT(10 3)")
    return df.select(
        "n_nationkey",
        st_covers(F.col("geom"), pt).alias("covers_pt"),
        st_coveredby(pt, F.col("geom")).alias("pt_covered_by"),
    )


def _q_equals_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#12 ST_Equals is topological: the 3-point line equals its 2-point
    collinear simplification (/root/reference/src/function/equals.rs:137-148)."""
    from datafusion_geo_spark.functions import st_equals, st_geomfromtext, st_translate
    from datafusion_geo_spark.sources.fixtures import lines_orders
    df = lines_orders(spark, sf_dir)
    k = F.col("k")
    two_pt = F.concat(F.lit("LINESTRING("), k.cast("string"), F.lit(" "),
                      (k + 1).cast("string"), F.lit(","), (k + 4).cast("string"),
                      F.lit(" "), (k + 5).cast("string"), F.lit(")"))
    return df.select(
        "o_orderkey",
        st_equals(F.col("geom"), st_geomfromtext(two_pt)).alias("eq_simplified"),
        st_equals(F.col("geom"), st_translate(F.col("geom"), 1.0, 0.0)).alias("eq_shifted"),
    )


def _q_wkb_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#2 ST_GeomFromWKB: re-validate WKB built by ST_Point, then
    serialize back (plain path) and stamp an SRID (EWKB path) — mirrors
    /root/reference/src/function/geom_from_wkb.rs:50-76."""
    from datafusion_geo_spark.functions import (st_asewkt, st_astext,
                                                st_geomfromwkb, st_srid)
    from datafusion_geo_spark.sources.fixtures import points_lineitem
    df = points_lineitem(spark, sf_dir)
    revalidated = st_geomfromwkb(F.col("geom"))
    stamped = st_geomfromwkb(F.col("geom"), 4326)
    return df.select(
        "l_orderkey", "l_linenumber",
        st_astext(revalidated).alias("wkt_out"),
        st_srid(stamped).alias("srid_out"),
        st_asewkt(stamped).alias("ewkt_out"),
    )


def _q_setsrid_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_SetSRID writer paired with #17 ST_SRID / #4 ST_AsEWKT readers:
    stamp a fresh SRID, overwrite the constructor's, and clear with 0 —
    the EWKB-header rewrite discipline (geo/dialect.py) over lineitem
    points."""
    from datafusion_geo_spark.functions import (st_asewkt, st_geomfromtext,
                                                st_setsrid, st_srid)
    from datafusion_geo_spark.sources.fixtures import _spread, load_table
    li = load_table(spark, sf_dir, "lineitem")
    wkt = F.concat(F.lit("POINT("), (F.col("l_orderkey") % 1000).cast("string"),
                   F.lit(" "), (F.col("l_partkey") % 1000).cast("string"),
                   F.lit(")"))
    df = _spread(li.select("l_orderkey", "l_linenumber", "l_partkey"))
    g = F.when(F.col("l_orderkey") % 7 != 0, st_geomfromtext(wkt))
    g4269 = F.when(F.col("l_orderkey") % 7 != 0, st_geomfromtext(wkt, 4269))
    return df.select(
        "l_orderkey", "l_linenumber",
        st_srid(st_setsrid(g, 4326)).alias("stamped"),
        st_asewkt(st_setsrid(g4269, 3857)).alias("restamped"),
        st_srid(st_setsrid(g4269, 0)).alias("cleared"))


def _q_srid_ewkt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#17 ST_SRID + #4 ST_AsEWKT with an SRID-stamped constructor
    (srid round-trip as in /root/reference/src/function/srid.rs:87-106)."""
    from datafusion_geo_spark.functions import st_asewkt, st_geomfromtext, st_srid
    from datafusion_geo_spark.sources.fixtures import _spread, load_table
    li = load_table(spark, sf_dir, "lineitem")
    wkt = F.concat(F.lit("POINT("), (F.col("l_orderkey") % 1000).cast("string"),
                   F.lit(" "), (F.col("l_partkey") % 1000).cast("string"),
                   F.lit(")"))
    # _spread before the string build + pandas UDFs — single-row-group
    # scan otherwise runs them all in one task (no-op at real scale);
    # only int columns cross the spreading shuffle
    df = _spread(li.select("l_orderkey", "l_linenumber", "l_partkey"))
    geom = F.when(F.col("l_orderkey") % 7 != 0, st_geomfromtext(wkt, 4269))
    return df.select(
        "l_orderkey", "l_linenumber",
        st_srid(geom).alias("srid"),
        st_asewkt(geom).alias("ewkt"),
    )


def _q_geojson_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#5 ST_AsGeoJSON over lineitem points."""
    from datafusion_geo_spark.functions import st_asgeojson
    from datafusion_geo_spark.sources.fixtures import points_lineitem
    df = points_lineitem(spark, sf_dir)
    return df.select(
        "l_orderkey", "l_linenumber",
        st_asgeojson(F.col("geom")).alias("geojson"),
    )


def _q_geojson_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_GeomFromGeoJSON (PostGIS-parity extension — the reference only
    serializes GeoJSON, as_geojson.rs:88-110): build Point and
    LineString GeoJSON text from lineitem ints, parse to WKB, emit
    canonical WKT. The oracle constructs the expected WKT directly from
    the same integers."""
    from datafusion_geo_spark.functions import st_astext, st_geomfromgeojson
    from datafusion_geo_spark.sources.fixtures import _spread, load_table
    # _spread: the one-row-group fixture scan would otherwise run the
    # whole parse stage in a single task (ints-only shuffle, then build
    # strings 32-wide — measured 6.5 s → ~1 s; same fix as lines_orders)
    li = _spread(load_table(spark, sf_dir, "lineitem")
                 .select("l_orderkey", "l_partkey", "l_linenumber"))
    a = (F.col("l_orderkey") % 1000).cast("string")
    b = (F.col("l_partkey") % 1000).cast("string")
    c = (F.col("l_partkey") % 997).cast("string")
    js_point = F.when(F.col("l_orderkey") % 7 == 0, F.lit(None)).otherwise(
        F.concat(F.lit('{"type":"Point","coordinates":['), a, F.lit(","),
                 b, F.lit("]}")))
    js_line = F.concat(
        F.lit('{"type":"LineString","coordinates":[['), a, F.lit(","),
        b, F.lit("],["), c, F.lit(",0]]}"))
    return li.select(
        "l_orderkey", "l_linenumber",
        st_astext(st_geomfromgeojson(js_point)).alias("wkt_point"),
        st_astext(st_geomfromgeojson(js_line)).alias("wkt_line"))


def _q_geometry_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#6 ST_GeometryType over a point ∪ linestring union."""
    from datafusion_geo_spark.functions import st_geometrytype
    from datafusion_geo_spark.sources.fixtures import lines_orders, points_lineitem
    pts = points_lineitem(spark, sf_dir).select(
        F.concat(F.lit("P-"), F.col("l_orderkey").cast("string"), F.lit("-"),
                 F.col("l_linenumber").cast("string")).alias("id"),
        st_geometrytype(F.col("geom")).alias("gtype"))
    lns = lines_orders(spark, sf_dir).select(
        F.concat(F.lit("L-"), F.col("o_orderkey").cast("string")).alias("id"),
        st_geometrytype(F.col("geom")).alias("gtype"))
    return pts.unionAll(lns)


def _q_buffer_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#14 ST_Buffer (point, width 50, quadsegs 2 → octagon, the
    reference's test input /root/reference/src/function/buffer.rs:119-139)
    checked via vertex count + exact bbox."""
    from datafusion_geo_spark.functions import box2d, st_buffer, st_npoints
    from datafusion_geo_spark.sources.fixtures import points_customer
    df = points_customer(spark, sf_dir, with_nulls=False)
    buf = st_buffer(F.col("geom"), 50.0, 2)
    df = df.withColumn("bbox", box2d(buf)).withColumn("nvert", st_npoints(buf))
    return df.select(
        "c_custkey", "nvert",
        _rb6(F.col("bbox.xmin")).alias("xmin"),
        _rb6(F.col("bbox.ymin")).alias("ymin"),
        _rb6(F.col("bbox.xmax")).alias("xmax"),
        _rb6(F.col("bbox.ymax")).alias("ymax"),
    )


def _q_covers_concave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#10 ST_Covers over CONCAVE and HOLED polygons — the domain round
    1's sampling-based covers was weak on (exact segment-split
    implementation, geo/algos.py::covers; reference semantics
    /root/reference/src/function/covers.rs:103-122).

    25 L-shaped polygons and 25 donut polygons (one per nation) against
    the customer point cloud: native bbox prefilter (JVM range
    predicate), exact ST_Covers only on survivors, counts per nation.
    The integer-grid layout makes coverage analytic for the oracle."""
    from datafusion_geo_spark.functions import st_covers, st_geomfromtext
    from datafusion_geo_spark.sources.fixtures import load_table, points_customer
    pts = points_customer(spark, sf_dir, with_nulls=False) \
        .select("c_custkey", "x", "y", "geom")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey",
        (F.col("n_nationkey") * 14 - 180).alias("x0"),
        (F.col("n_regionkey") * 14 - 38).alias("y0"))

    def s(col):
        return col.cast("string")

    x0, y0 = F.col("x0"), F.col("y0")
    l_wkt = F.concat(
        F.lit("POLYGON(("),
        s(x0), F.lit(" "), s(y0), F.lit(","),
        s(x0 + 12), F.lit(" "), s(y0), F.lit(","),
        s(x0 + 12), F.lit(" "), s(y0 + 6), F.lit(","),
        s(x0 + 6), F.lit(" "), s(y0 + 6), F.lit(","),
        s(x0 + 6), F.lit(" "), s(y0 + 12), F.lit(","),
        s(x0), F.lit(" "), s(y0 + 12), F.lit(","),
        s(x0), F.lit(" "), s(y0), F.lit("))"))
    d_wkt = F.concat(
        F.lit("POLYGON(("),
        s(x0), F.lit(" "), s(y0), F.lit(","),
        s(x0 + 12), F.lit(" "), s(y0), F.lit(","),
        s(x0 + 12), F.lit(" "), s(y0 + 12), F.lit(","),
        s(x0), F.lit(" "), s(y0 + 12), F.lit(","),
        s(x0), F.lit(" "), s(y0), F.lit("),("),
        s(x0 + 3), F.lit(" "), s(y0 + 3), F.lit(","),
        s(x0 + 3), F.lit(" "), s(y0 + 9), F.lit(","),
        s(x0 + 9), F.lit(" "), s(y0 + 9), F.lit(","),
        s(x0 + 9), F.lit(" "), s(y0 + 3), F.lit(","),
        s(x0 + 3), F.lit(" "), s(y0 + 3), F.lit("))"))
    n = n.withColumn("lgeom", st_geomfromtext(l_wkt)) \
         .withColumn("dgeom", st_geomfromtext(d_wkt))
    # native bbox prefilter inside the broadcast join; exact covers after
    cond = ((F.col("x") >= x0) & (F.col("x") <= x0 + 12)
            & (F.col("y") >= y0) & (F.col("y") <= y0 + 12))
    j = pts.join(F.broadcast(n), cond)
    return (j.groupBy("n_nationkey")
            .agg(F.sum(st_covers(F.col("lgeom"), F.col("geom"))
                       .cast("int")).alias("n_l"),
                 F.sum(st_covers(F.col("dgeom"), F.col("geom"))
                       .cast("int")).alias("n_donut"))
            .orderBy("n_nationkey"))


def _q_buffer_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#14 ST_Buffer over LineStrings — offset-curve capsules with round
    caps (geo/offset.py; reference buffers via GEOS,
    /root/reference/src/function/buffer.rs:86-104). The lines_orders
    fixture is collinear at 45°, so the capsule is closed-form: 37
    vertices, bbox = line bbox grown by w exactly (cap arcs hit the four
    axis angles), area = 2wL + 2q·w²·sin(π/2q) (offset rectangle plus the
    inscribed-polygon circle of the two caps)."""
    from datafusion_geo_spark.functions import (box2d, st_area, st_buffer,
                                                st_npoints)
    from datafusion_geo_spark.sources.fixtures import lines_orders
    df = lines_orders(spark, sf_dir, with_nulls=False)
    df = df.withColumn("buf", st_buffer(F.col("geom"), 2.0, 8))
    return df.select(
        "o_orderkey",
        st_npoints(F.col("buf")).alias("nvert"),
        _rb6(st_area(F.col("buf"))).alias("area"),
        _rb6(box2d(F.col("buf"))["xmin"]).alias("xmin"),
        _rb6(box2d(F.col("buf"))["ymin"]).alias("ymin"),
        _rb6(box2d(F.col("buf"))["xmax"]).alias("xmax"),
        _rb6(box2d(F.col("buf"))["ymax"]).alias("ymax"),
    )


def _q_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial theta-join lines_orders ⋈ boxes_nation ON ST_Intersects —
    the derived capability SURVEY.md §2 flags as the interesting case
    (reference ships an unwired R-tree for exactly this,
    /root/reference/src/geo/index.rs:23-33). Runs the engine's
    broadcast_bbox_join: native JVM bbox-overlap prefilter inside the
    BroadcastNestedLoopJoin, exact ST_Intersects (Python) only on the
    surviving pairs — the PostGIS &&-then-exact pattern."""
    from datafusion_geo_spark.operators.spatial_join import broadcast_bbox_join
    from datafusion_geo_spark.sources.fixtures import boxes_nation, lines_orders
    # with_bbox: fused construction attaches native bbox columns, so the
    # join's big-side ensure_bbox skips its separate Box2D Python pass
    lines = lines_orders(spark, sf_dir, with_nulls=False, with_bbox=True)
    # snapshot_small=False: this query is evaluated ONCE per run, so the
    # snapshot's collect+recreate is pure fixed cost here (~0.1 s in the
    # round-4 5×2 interleaved A/B, BASELINE.md); the snapshot default
    # exists for results reused across actions, where it amortizes a
    # 2-6 s per-action UDF re-broadcast
    joined = broadcast_bbox_join(lines, boxes_nation(spark, sf_dir),
                                 snapshot_small=False)
    return joined.groupBy(F.col("s.n_nationkey").alias("n_nationkey")).agg(
        F.count("*").alias("n_lines")).orderBy("n_nationkey")


def _q_boundary_literals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#15 ST_Boundary golden cases from the reference's tests
    (/root/reference/src/function/boundary.rs:102-122)."""
    from datafusion_geo_spark.functions import st_astext, st_boundary, st_geomfromtext
    rows = [(1, "POLYGON((1 1,0 0,-1 1,1 1))"),
            (2, "LINESTRING(100 150,50 60,70 80,130 140)"),
            (3, "LINESTRING(0 0,1 0,1 1,0 0)"),
            (4, "POINT(1 2)")]
    df = spark.createDataFrame(rows, "id int, wkt string")
    return df.select(
        "id", st_astext(st_boundary(st_geomfromtext(F.col("wkt")))).alias("boundary_wkt"))


def _q_measures_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference measures over the lines fixture: ST_Length and
    ST_Centroid (coords via Box2D of the point, 6-dp rounded — float
    accumulation order differs per engine, so raw WKT text would
    ulp-mismatch; same rounding convention as the rest of the repo)."""
    from datafusion_geo_spark.functions import box2d, st_centroid, st_length
    from datafusion_geo_spark.sources.fixtures import lines_orders
    df = lines_orders(spark, sf_dir)
    c = box2d(st_centroid(F.col("geom")))
    return df.select(
        "o_orderkey",
        _rb6(st_length(F.col("geom"))).alias("len"),
        _rb6(c["xmin"]).alias("cx"),
        _rb6(c["ymin"]).alias("cy"))


def _q_distance_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Distance + distance-band flag: lineitem points against a
    literal anchor (vectorized numpy point×point fast path). The flag
    derives JVM-side from the ONE distance column instead of a second
    st_dwithin kernel pass — same semantics (the raw double feeds the
    comparison, the 6-dp round only the reported value), half the
    Python crossings. st_dwithin itself is exercised in
    tests/test_measures.py and the dwithin_join query."""
    from datafusion_geo_spark.functions import st_distance
    from datafusion_geo_spark.sources.fixtures import points_lineitem
    df = points_lineitem(spark, sf_dir)
    d_raw = st_distance(F.col("geom"), "POINT(500 500)")
    df = df.withColumn("_d", d_raw)
    return df.select(
        "l_orderkey", "l_linenumber",
        _rb6(F.col("_d")).alias("d"),
        (F.col("_d") <= 100.0).alias("near"))


def _q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XYZ tile pyramid at zoom 4 over the lines fixture
    (operators.tiles.make_tiles): bounded bbox->tile explode + per-tile
    MVT affine, entirely map-side (no shuffle anywhere)."""
    from datafusion_geo_spark.functions import st_astext
    from datafusion_geo_spark.operators.tiles import make_tiles
    from datafusion_geo_spark.sources.fixtures import lines_orders
    # with_bbox: native bbox columns -> make_tiles skips its box2d pass
    t = make_tiles(lines_orders(spark, sf_dir, with_bbox=True), zoom=4)
    return t.select("o_orderkey", "zoom", "tx", "ty",
                    st_astext(F.col("mvt_geom")).alias("mvt_wkt"))


def _q_geo_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end geo pipeline (the spatial counterpart of
    curation_pipeline): lines fixture -> ST_Centroid distance gate
    (keep features whose centroid is within 300 of the anchor) ->
    zoom-3 tiling -> per-tile rollup (count + summed ST_Length,
    6-dp rounded). Composition: two pandas-UDF crossings (centroid via
    box2d reuse, length), one map-side tile explode, one partial+final
    hash aggregate — no shuffle before the final group-by."""
    from datafusion_geo_spark.functions import box2d, st_centroid, st_length
    from datafusion_geo_spark.operators.tiles import make_tiles
    from datafusion_geo_spark.sources.fixtures import lines_orders
    df = lines_orders(spark, sf_dir, with_bbox=True)
    c = box2d(st_centroid(F.col("geom")))
    dx = c["xmin"] - F.lit(500.0)
    dy = c["ymin"] - F.lit(500.0)
    df = (df.withColumn("_len", _rb6(st_length(F.col("geom"))))
          .where(F.sqrt(dx * dx + dy * dy) <= 300.0))
    t = make_tiles(df, zoom=3)
    return (t.groupBy("zoom", "tx", "ty")
            .agg(F.count(F.lit(1)).alias("n_features"),
                 _rb6(F.sum("_len")).alias("total_len")))


def _q_tile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile rollup of the zoom-4 pyramid: feature count + st_extent
    aggregate of the source bboxes — the tile-index summary a tile
    server reads to skip empty/thin tiles. One map-side tiling pass
    (make_tiles) + one partial+final hash aggregate on (tx, ty)."""
    from datafusion_geo_spark.functions import st_extent_agg
    from datafusion_geo_spark.operators.tiles import make_tiles
    from datafusion_geo_spark.sources.fixtures import lines_orders
    # with_bbox: the fused single-crossing fixture — make_tiles'
    # ensure_bbox sees native xmin..ymax and skips its box2d pass, and
    # the extent aggregate below reads the SAME columns (zero extra
    # Python; the fix for the double-box2d review finding)
    t = make_tiles(lines_orders(spark, sf_dir, with_bbox=True), zoom=4)
    return (t.withColumn("_b", F.struct("xmin", "ymin", "xmax", "ymax"))
            .groupBy("zoom", "tx", "ty")
            .agg(F.count(F.lit(1)).alias("n_features"),
                 st_extent_agg(F.col("_b")).alias("ext"))
            .select("zoom", "tx", "ty", "n_features",
                    F.col("ext.xmin").alias("xmin"),
                    F.col("ext.ymin").alias("ymin"),
                    F.col("ext.xmax").alias("xmax"),
                    F.col("ext.ymax").alias("ymax")))


def _q_accessors_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accessor family over the lines fixture: ST_X/ST_Y of
    ST_StartPoint / ST_EndPoint, ST_PointN (incl. negative index) and
    ST_NumGeometries (PostGIS parity, beyond-reference)."""
    from datafusion_geo_spark.functions import (st_astext, st_endpoint,
                                                st_numgeometries, st_pointn,
                                                st_startpoint, st_x, st_y)
    from datafusion_geo_spark.sources.fixtures import lines_orders
    df = lines_orders(spark, sf_dir)
    g = F.col("geom")
    return df.select(
        "o_orderkey",
        st_x(st_startpoint(g)).alias("sx"),
        st_y(st_startpoint(g)).alias("sy"),
        st_x(st_endpoint(g)).alias("ex"),
        st_astext(st_pointn(g, -2)).alias("p_penult"),
        st_numgeometries(g).alias("n_geoms"))


def _q_line_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_LineInterpolatePoint over the lines fixture at fractions
    0.25 / 0.5 / 1.0 — the fixture's uniform segment lengths make every
    interpolated coordinate an exact integer the oracle reproduces."""
    from datafusion_geo_spark.functions import st_astext, st_lineinterpolatepoint
    from datafusion_geo_spark.sources.fixtures import lines_orders
    df = lines_orders(spark, sf_dir)
    g = F.col("geom")
    return df.select(
        "o_orderkey",
        st_astext(st_lineinterpolatepoint(g, 0.25)).alias("p25"),
        st_astext(st_lineinterpolatepoint(g, 0.5)).alias("p50"),
        st_astext(st_lineinterpolatepoint(g, 1.0)).alias("p100"))


def _q_closest_point_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_ClosestPoint over the lines fixture vs the anchor
    POINT(500 500): the foot of the perpendicular onto y=x+1 is
    (499.5, 500.5), clamped to the segment range [k, k+4] — exact
    arithmetic the oracle reproduces with one CASE."""
    from datafusion_geo_spark.functions import box2d, st_closestpoint
    from datafusion_geo_spark.sources.fixtures import lines_orders
    df = lines_orders(spark, sf_dir)
    c = box2d(st_closestpoint(F.col("geom"), "POINT(500 500)"))
    return df.select(
        "o_orderkey",
        _rb6(c["xmin"]).alias("cx"),
        _rb6(c["ymin"]).alias("cy"))


def _q_geohash_azimuth_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_GeoHash + ST_Azimuth golden cases: canonical geohash test
    vectors (Wikipedia's 'ezs42', the docs' 11-char u4pruydqqvj) and
    exact compass azimuths (N=0, E=pi/2, S=pi, W=3pi/2, NE=pi/4)."""
    from datafusion_geo_spark.functions import (st_azimuth, st_geohash,
                                                st_geomfromtext)
    rows = [(1, "POINT(10.40744 57.64911)", 11, "POINT(10.40744 58.0)"),
            (2, "POINT(-5.6 42.6)", 5, "POINT(-5.0 42.6)"),
            (3, "POINT(0 0)", 4, "POINT(0 -1)"),
            (4, "POINT(0 0)", 1, "POINT(-1 0)"),
            (5, "POINT(0 0)", 12, "POINT(1 1)")]
    df = spark.createDataFrame(rows, "id int, wkt string, prec int, to_wkt string")
    g = st_geomfromtext(F.col("wkt"))
    return df.select(
        "id",
        st_geohash(g, F.col("prec")).alias("gh"),
        st_azimuth(g, st_geomfromtext(F.col("to_wkt"))).alias("az"))


def _q_line_locate_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_LineLocatePoint golden cases (hand-verified: projection onto
    the right-angle LINESTRING(0 0,10 0,10 10), clamped ends, tie to
    the first minimal position)."""
    from datafusion_geo_spark.functions import (st_geomfromtext,
                                                st_linelocatepoint)
    rows = [(1, "POINT(5 1)", 0.25), (2, "POINT(20 5)", 0.75),
            (3, "POINT(-3 0)", 0.0), (4, "POINT(10 20)", 1.0),
            (5, "POINT(10 0)", 0.5)]
    df = spark.createDataFrame(rows, "id int, pwkt string, expected double")
    line = st_geomfromtext(F.lit("LINESTRING(0 0,10 0,10 10)"))
    return df.select(
        "id",
        st_linelocatepoint(line, st_geomfromtext(F.col("pwkt"))).alias("frac"))


def _q_transform_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Transform EPSG:4326 -> EPSG:3857 over customer points (valid
    lon/lat by construction): vectorized numpy web-mercator fast path;
    result SRID stamped in the EWKB header (checked via ST_SRID)."""
    from datafusion_geo_spark.functions import box2d, st_srid, st_transform
    from datafusion_geo_spark.sources.fixtures import points_customer
    df = points_customer(spark, sf_dir)
    t = st_transform(F.col("geom"), 3857, from_srid=4326)
    df = df.withColumn("_t", t)
    b = box2d(F.col("_t"))
    return df.select(
        "c_custkey",
        _rb6(b["xmin"]).alias("mx"),
        _rb6(b["ymin"]).alias("my"),
        st_srid(F.col("_t")).alias("srid"))


def _q_transform_utm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Transform EPSG:4326 -> EPSG:32631 (UTM zone 31N; Krüger α
    series to n³, geo/proj.py — r4 verdict item 7) over analytic
    customer points inside the zone (lon 0.5..5.4°E, lat 1.5..37.5°N).
    Output easting/northing at cm rounding (_rb2: the oracle's exp/ln
    hyperbolic expansion differs from libm by ulps, far below 0.01)."""
    from datafusion_geo_spark.functions import (st_point, st_srid,
                                                st_transform, st_x, st_y)
    from datafusion_geo_spark.sources.fixtures import _spread, load_table
    cu = _spread(load_table(spark, sf_dir, "customer")
                 .select("c_custkey", "c_nationkey"))
    lon = (F.col("c_custkey") % 50) / F.lit(10.0) + F.lit(0.5)
    lat = F.col("c_nationkey") * F.lit(1.5) + F.lit(1.5)
    g = F.when(F.col("c_custkey") % 7 != 0, st_point(lon, lat))
    t = st_transform(g, 32631, from_srid=4326)
    df = cu.withColumn("_t", t)
    return df.select(
        "c_custkey",
        _rb2(st_x(F.col("_t"))).alias("easting"),
        _rb2(st_y(F.col("_t"))).alias("northing"),
        st_srid(F.col("_t")).alias("srid"))


def _q_stateplane_lcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Transform EPSG:4326 -> EPSG:2263 (NAD83 / New York Long
    Island, US survey foot — Lambert Conformal Conic 2SP on GRS80,
    geo/proj.py LCC2SP; round-10 generic-CRS layer, r9 verdict gap 1)
    over synthetic customer points inside the zone (lon -74.6..-73.04,
    lat 40.25..41.09). Output easting/northing in ftUS at cm-scale
    rounding (_rb2: the oracle replays the identical Snyder chain with
    the same repr'd projection constants; only libm ulps differ)."""
    from datafusion_geo_spark.functions import (st_point, st_srid,
                                                st_transform, st_x, st_y)
    from datafusion_geo_spark.sources.fixtures import _spread, load_table
    cu = _spread(load_table(spark, sf_dir, "customer")
                 .select("c_custkey", "c_nationkey"))
    lon = F.lit(-74.6) + (F.col("c_custkey") % 40) / F.lit(25.0)
    lat = F.lit(40.25) + (F.col("c_nationkey") % 25) * F.lit(0.035)
    g = F.when(F.col("c_custkey") % 7 != 0, st_point(lon, lat))
    t = st_transform(g, 2263, from_srid=4326)
    df = cu.withColumn("_t", t)
    return df.select(
        "c_custkey",
        _rb2(st_x(F.col("_t"))).alias("easting_ft"),
        _rb2(st_y(F.col("_t"))).alias("northing_ft"),
        st_srid(F.col("_t")).alias("srid"))


def _q_lambert93_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPSG:4326 -> EPSG:2154 (RGF93 / Lambert-93) -> back to 4326:
    the SECOND transform reads the source SRID from the EWKB header
    stamped by the first (PostGIS semantics, no from_srid), so this
    oracles the LCC INVERSE (chi-series, geo/proj.py) and the SRID
    plumbing in one query. The oracle is the analytic input replay —
    forward∘inverse is identity to ~1e-11°, five orders below the
    6-dp comparison rounding."""
    from datafusion_geo_spark.functions import (st_point, st_srid,
                                                st_transform, st_x, st_y)
    from datafusion_geo_spark.sources.fixtures import _spread, load_table
    cu = _spread(load_table(spark, sf_dir, "customer")
                 .select("c_custkey", "c_nationkey"))
    lon = F.lit(-4.0) + (F.col("c_custkey") % 60) / F.lit(5.0)
    lat = F.lit(42.2) + (F.col("c_nationkey") % 25) * F.lit(0.34)
    g = F.when(F.col("c_custkey") % 7 != 0, st_point(lon, lat))
    rt = st_transform(st_transform(g, 2154, from_srid=4326), 4326)
    df = cu.withColumn("_t", rt)
    return df.select(
        "c_custkey",
        _rb6(st_x(F.col("_t"))).alias("lon_rt"),
        _rb6(st_y(F.col("_t"))).alias("lat_rt"),
        st_srid(F.col("_t")).alias("srid"))


def _q_albers_conus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Transform EPSG:4326 -> EPSG:5070 (NAD83 / Conus Albers —
    equal-area conic on GRS80, geo/proj.py AlbersEA) over synthetic
    customer points across the CONUS box (lon -123..-68, lat
    25.5..47.1). The standard US land-analytics CRS; oracle replays
    the Snyder q/ρ/θ chain with identical repr'd constants, compared
    at cm rounding."""
    from datafusion_geo_spark.functions import (st_point, st_srid,
                                                st_transform, st_x, st_y)
    from datafusion_geo_spark.sources.fixtures import _spread, load_table
    cu = _spread(load_table(spark, sf_dir, "customer")
                 .select("c_custkey", "c_nationkey"))
    lon = F.lit(-123.0) + (F.col("c_custkey") % 56).cast("double")
    lat = F.lit(25.5) + (F.col("c_nationkey") % 25) * F.lit(0.9)
    g = F.when(F.col("c_custkey") % 7 != 0, st_point(lon, lat))
    t = st_transform(g, 5070, from_srid=4326)
    df = cu.withColumn("_t", t)
    return df.select(
        "c_custkey",
        _rb2(st_x(F.col("_t"))).alias("x"),
        _rb2(st_y(F.col("_t"))).alias("y"),
        st_srid(F.col("_t")).alias("srid"))


def _q_osgb_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Transform EPSG:4326 -> EPSG:27700 (OSGB36 / British National
    Grid): the full non-WGS84-datum path — WGS84 geodetic -> ECEF ->
    7-parameter Helmert (position vector) -> Bowring inverse on Airy
    1830 -> Krüger TM with k0=0.9996012717 and the rectifying
    latitude-of-origin northing offset (geo/proj.py TMGeneric +
    Helmert). Points span Great Britain (lon -6.8..1.1, lat
    50.2..60.28). Oracle replays every stage with the identical
    repr'd constants (hyperbolics expanded via exp/ln), cm rounding."""
    from datafusion_geo_spark.functions import (st_point, st_srid,
                                                st_transform, st_x, st_y)
    from datafusion_geo_spark.sources.fixtures import _spread, load_table
    cu = _spread(load_table(spark, sf_dir, "customer")
                 .select("c_custkey", "c_nationkey"))
    lon = F.lit(-6.8) + (F.col("c_custkey") % 80) / F.lit(10.0)
    lat = F.lit(50.2) + (F.col("c_nationkey") % 25) * F.lit(0.42)
    g = F.when(F.col("c_custkey") % 7 != 0, st_point(lon, lat))
    t = st_transform(g, 27700, from_srid=4326)
    df = cu.withColumn("_t", t)
    return df.select(
        "c_custkey",
        _rb2(st_x(F.col("_t"))).alias("easting"),
        _rb2(st_y(F.col("_t"))).alias("northing"),
        st_srid(F.col("_t")).alias("srid"))


def _q_laea_europe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Transform EPSG:4326 -> EPSG:3035 (ETRS89-extended / LAEA
    Europe — Lambert Azimuthal Equal Area on the authalic sphere,
    geo/proj.py LAEA; the EU-wide statistics CRS and the third
    projection family in the registry after the conformal conic and
    the equal-area conic). Synthetic customer points across Europe
    (lon -9.5..30.5, lat 35.4..69); oracle replays the Snyder §24
    chain (authalic q -> β -> B/D) with identical repr'd constants,
    cm rounding."""
    from datafusion_geo_spark.functions import (st_point, st_srid,
                                                st_transform, st_x, st_y)
    from datafusion_geo_spark.sources.fixtures import _spread, load_table
    cu = _spread(load_table(spark, sf_dir, "customer")
                 .select("c_custkey", "c_nationkey"))
    lon = F.lit(-9.5) + (F.col("c_custkey") % 41).cast("double")
    lat = F.lit(35.4) + (F.col("c_nationkey") % 25) * F.lit(1.4)
    g = F.when(F.col("c_custkey") % 7 != 0, st_point(lon, lat))
    t = st_transform(g, 3035, from_srid=4326)
    df = cu.withColumn("_t", t)
    return df.select(
        "c_custkey",
        _rb2(st_x(F.col("_t"))).alias("x"),
        _rb2(st_y(F.col("_t"))).alias("y"),
        st_srid(F.col("_t")).alias("srid"))


def _q_crs_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projected -> projected composition through the 4326 hub:
    4326 -> EPSG:2263 (state-plane LCC, ftUS) -> EPSG:3857, the second
    hop reading its source SRID from the EWKB header. The oracle is
    the DIRECT web-mercator formula on the inputs — the state-plane
    round trip inside the chain perturbs by ~1e-5 m, three orders
    below the cm comparison rounding — so this query pins hub routing,
    unit handling, and header stamping end-to-end."""
    from datafusion_geo_spark.functions import (st_point, st_srid,
                                                st_transform, st_x, st_y)
    from datafusion_geo_spark.sources.fixtures import _spread, load_table
    cu = _spread(load_table(spark, sf_dir, "customer")
                 .select("c_custkey", "c_nationkey"))
    lon = F.lit(-74.6) + (F.col("c_custkey") % 40) / F.lit(25.0)
    lat = F.lit(40.25) + (F.col("c_nationkey") % 25) * F.lit(0.035)
    g = F.when(F.col("c_custkey") % 7 != 0, st_point(lon, lat))
    t = st_transform(st_transform(g, 2263, from_srid=4326), 3857)
    df = cu.withColumn("_t", t)
    return df.select(
        "c_custkey",
        _rb2(st_x(F.col("_t"))).alias("mx"),
        _rb2(st_y(F.col("_t"))).alias("my"),
        st_srid(F.col("_t")).alias("srid"))


def _q_setops_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Intersection/ST_Union/ST_Difference over fixture box pairs
    covering every overlap topology (partial overlap, containment,
    edge-touching, disjoint — the dy sweep ranges −7..17 against a
    10-tall box). Axis-aligned boxes make the oracle analytic: the
    intersection is the clamped coordinate-interval product, areas
    follow inclusion–exclusion (geo/overlay.py)."""
    from datafusion_geo_spark.functions import (st_area, st_astext,
                                                st_intersection,
                                                st_makeenvelope)
    from datafusion_geo_spark.sources.fixtures import _spread, load_table
    li = _spread(load_table(spark, sf_dir, "lineitem")
                 .select("l_orderkey", "l_linenumber", "l_partkey",
                         "l_suppkey"))
    x0 = (F.col("l_orderkey") % 500).cast("double")
    y0 = (F.col("l_partkey") % 500).cast("double")
    dx = (F.col("l_linenumber") - 3).cast("double")
    dy = ((F.col("l_suppkey") % 25) - 7).cast("double")
    a = F.when(F.col("l_orderkey") % 7 != 0,
               st_makeenvelope(x0, y0, x0 + 10, y0 + 10))
    b = st_makeenvelope(x0 + dx, y0 + dy, x0 + dx + 8, y0 + dy + 8)
    df = li.withColumn("_a", a).withColumn("_b", b)
    i = st_intersection(F.col("_a"), F.col("_b"))
    # r11 (guide §4.1): the union/difference AREAS follow from
    # inclusion–exclusion over the intersection area — u = |a|+|b|-|i|,
    # d = |a|-|i| (exact: all corners are integers, so every area is an
    # exactly-representable integer double and the arithmetic is
    # lossless) — replacing two full overlay kernels per row with
    # Catalyst arithmetic over st_area. The intersection GEOMETRY
    # (i_wkt) still runs the real overlay kernel (rectangle batches hit
    # its vectorized fast path). The oracle (inclusion–exclusion in
    # integer SQL) is unchanged.
    ar_a, ar_b, ar_i = st_area(F.col("_a")), st_area(F.col("_b")), st_area(i)
    return df.select(
        "l_orderkey", "l_linenumber",
        st_astext(i).alias("i_wkt"),
        _rb6(ar_i).alias("i_area"),
        _rb6(ar_a + ar_b - ar_i).alias("u_area"),
        _rb6(ar_a - ar_i).alias("d_area"))


def _q_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed DBSCAN (PostGIS ST_ClusterDBSCAN semantics) over an
    analytic point layout: 25 lattice blobs keyed by nationkey (7x11
    cells, spacing 1, well separated) plus far-scattered %13 singleton
    noise. eps=2, min_pts=4; cluster id = min custkey reachable through
    the core graph (deterministic, unlike PostGIS's window numbering),
    border points adopt their min core-neighbor cluster, noise is NULL.
    Oracle: the identical relation computed by a recursive-CTE min-label
    closure in DuckDB."""
    from datafusion_geo_spark.operators.cluster import dbscan_points
    from datafusion_geo_spark.sources.fixtures import load_table
    c = load_table(spark, sf_dir, "customer")
    ck, nk = F.col("c_custkey"), F.col("c_nationkey")
    scattered = ck % 13 == 0
    x = F.when(scattered, 2000.0 + ck * 3) \
         .otherwise((nk % 5) * 50 + ck % 7).cast("double")
    y = F.when(scattered, -((ck * 7) % 997).cast("double")) \
         .otherwise((F.floor(nk / 5) * 50 + ck % 11).cast("double"))
    pts = c.select(ck.alias("id"), x.alias("x"), y.alias("y"))
    out = dbscan_points(pts, eps=2.0, min_pts=4)
    return out.select(F.col("id").alias("c_custkey"), "is_core", "cluster")


def _q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-self-trained unigram LM score per document (perplexity
    proxy for quality filtering). Integer-exact: per-token ln(cnt/total)
    is rounded to micro units BEFORE summing, so the comparison never
    depends on double fold order."""
    from datafusion_geo_spark.operators.text import unigram_logprob
    from datafusion_geo_spark.sources.fixtures import load_table
    return unigram_logprob(load_table(spark, sf_dir, "documents"))


def _q_polygonize_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Polygonize goldens (tests/test_polygonize.py pins semantics):
    segment-assembled triangle, chord-split square, nested rings with
    hole assignment, dangling linework, open linework."""
    from datafusion_geo_spark.functions import (st_astext, st_geomfromtext,
                                                st_polygonize)
    rows = [
        (1, "MULTILINESTRING((0 0,2 0),(2 0,1 2),(1 2,0 0))"),
        (2, "MULTILINESTRING((0 0,4 0,4 4,0 4,0 0),(0 0,4 4))"),
        (3, "MULTILINESTRING((0 0,10 0,10 10,0 10,0 0),"
            "(4 4,6 4,6 6,4 6,4 4))"),
        (4, "MULTILINESTRING((0 0,1 0,1 1,0 1,0 0),(5 5,9 9))"),
        (5, "MULTILINESTRING((0 0,1 0),(1 0,1 1))"),
    ]
    df = spark.createDataFrame(rows, "id int, w string")
    return df.select(
        "id",
        st_astext(st_polygonize(st_geomfromtext(F.col("w"))))
        .alias("faces_wkt"))


def _q_polygonize_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Polygonize AGGREGATE at fixture scale: each nation's box
    boundary arrives as four SEPARATE segment rows (shuffled to the
    group by collect_list, faces assembled once per group); the face
    area is analytic ((5 + nk%3)^2). The aggregate is the PostGIS
    ST_Polygonize(geometry set) shape."""
    from datafusion_geo_spark.functions import (st_area, st_geometrytype,
                                                st_geomfromtext,
                                                st_polygonize_agg)
    from datafusion_geo_spark.sources.fixtures import load_table
    n = load_table(spark, sf_dir, "nation")
    x0 = (F.col("n_nationkey") * 10).cast("int")
    y0 = (F.col("n_regionkey") * 7).cast("int")
    w = (F.lit(5) + F.col("n_nationkey") % 3).cast("int")
    x1, y1 = x0 + w, y0 + w
    seg = F.explode(F.array(
        F.format_string("LINESTRING(%d %d,%d %d)", x0, y0, x1, y0),
        F.format_string("LINESTRING(%d %d,%d %d)", x1, y0, x1, y1),
        F.format_string("LINESTRING(%d %d,%d %d)", x1, y1, x0, y1),
        F.format_string("LINESTRING(%d %d,%d %d)", x0, y1, x0, y0)))
    segs = n.select("n_nationkey", seg.alias("w"))
    agg = (segs.groupBy("n_nationkey")
           .agg(st_polygonize_agg(st_geomfromtext(F.col("w")))
                .alias("g")))
    return agg.select(
        "n_nationkey",
        st_geometrytype(F.col("g")).alias("ptype"),
        st_area(F.col("g")).alias("parea"))


def _q_subdivide_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Subdivide over lineitem-translated canonical boxes: each
    surviving row carries the segmentized 10x10 box (41 verts), which
    subdivides at max_vertices=20 into exactly 4 quadrant pieces of
    area 25 with max 13 verts — translation-invariant constants pinned
    by tests/test_subdivide.py::test_canonical_box_pinned, so the
    oracle is pure arithmetic (4/100.0 per surviving row, aggregated
    per orderkey — the fixture repeats l_linenumber=1 within an order).
    %7 rows pass a NULL geometry through the whole chain (explode
    drops them).

    r12: the five staged kernels (makeenvelope -> segmentize ->
    subdivide -> area + npoints) are fused into ONE crossing
    (st_box_subdivide_stats — same kernels in the same order, no WKB
    round-trips between them, byte parity pinned by
    tests/test_subdivide.py); the %7 NULL lane nulls the corner inputs,
    which the staged chain propagated identically."""
    from datafusion_geo_spark.functions import st_box_subdivide_stats
    from datafusion_geo_spark.sources.fixtures import _spread, load_table
    li = _spread(load_table(spark, sf_dir, "lineitem")
                 .where(F.col("l_linenumber") == 1)
                 .select("l_orderkey", "l_partkey"))
    x0 = F.when(F.col("l_orderkey") % 7 != 0,
                (F.col("l_orderkey") % 500).cast("double"))
    y0 = (F.col("l_partkey") % 500).cast("double")
    pc = st_box_subdivide_stats(x0, y0, x0 + 10, y0 + 10,
                                F.lit(1.0), F.lit(20))
    ex = (li.withColumn("_pc", pc)
          .withColumn("_z", F.explode(F.arrays_zip(
              F.col("_pc.areas").alias("_a"),
              F.col("_pc.npts").alias("_n"))))
          .select("l_orderkey",
                  F.col("_z._a").alias("_a"),
                  F.col("_z._n").alias("_n")))
    return (ex.groupBy("l_orderkey")
            .agg(F.count("*").alias("n_pieces"),
                 F.sum("_a").alias("area_sum"),
                 F.max("_n").alias("max_piece_verts")))


def _q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric embedding quantization QA over the embeddings
    table: per-vector scale (6 dp), integer code sum / abs-max, and the
    nano-scaled integer dequantization error — every compared quantity
    either integer-exact or binary-rounded, so the DuckDB twin (same
    formula through list lambdas) matches bit-for-bit."""
    from datafusion_geo_spark.operators.similarity import quantization_report
    from datafusion_geo_spark.sources.fixtures import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    return quantization_report(emb)


def _q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup: four synthesized variants of each document URL
    (scheme/host case + www + :80, param order, :443 + trailing slash,
    fbclid) plus a malformed %5==4 slice. canonicalize_url (pure
    built-ins: try_parse_url + higher-order array ops) must collapse
    variants {0,1} and {2,3} into two groups per (source, doc_id%50)
    and drop the junk rows as NULL. Oracle: the canonical strings are
    fixture-analytic, so DuckDB never parses a URL."""
    from datafusion_geo_spark.operators.text import url_dedup
    from datafusion_geo_spark.sources.fixtures import _spread, load_table
    docs = _spread(load_table(spark, sf_dir, "documents"))
    v = F.col("doc_id") % 5
    slot = (F.col("doc_id") % 50).cast("string")
    host = F.concat(F.col("source"), F.lit(".example.com"))
    url = (
        F.when(v == 0, F.concat(F.lit("HTTP://WWW."), F.upper(host),
                                F.lit(":80/docs/"), slot,
                                F.lit("/?utm_source=x&b=2&a=1#frag")))
        .when(v == 1, F.concat(F.lit("https://"), host, F.lit("/docs/"),
                               slot, F.lit("?a=1&b=2")))
        .when(v == 2, F.concat(F.lit("https://"), host, F.lit(":443/docs/"),
                               slot, F.lit("/")))
        .when(v == 3, F.concat(F.lit("http://"), host, F.lit("/docs/"),
                               slot, F.lit("?fbclid=abc")))
        .otherwise(F.concat(F.lit("not a url "),
                            F.col("doc_id").cast("string"))))
    return url_dedup(docs.select("doc_id", url.alias("url")))


def _q_shortline_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_ShortestLine + ST_Project over analytic customer points: the
    box sits strictly up-right of the point so the witness pair is
    (point, box corner) with length sqrt(200); the projected point at
    azimuth pi/2 (due east) lands at x+d (y shifts by d*cos(pi/2) ~
    1e-16, erased by the 6-dp rounding both engines share)."""
    from datafusion_geo_spark.functions import (st_astext, st_length,
                                                st_makeenvelope, st_point,
                                                st_project,
                                                st_shortestline, st_x,
                                                st_y)
    from datafusion_geo_spark.sources.fixtures import load_table
    c = load_table(spark, sf_dir, "customer")
    x = (F.col("c_custkey") % 100).cast("double")
    y = F.col("c_nationkey").cast("double")
    d = (F.col("c_custkey") % 5 + 1).cast("double")
    pt = st_point(x, y)
    box = st_makeenvelope(x + 10, y + 10, x + 15, y + 15)
    sl = st_shortestline(pt, box)
    pr = st_project(pt, d, math.pi / 2)
    return c.select(
        "c_custkey",
        st_astext(sl).alias("sl_wkt"),
        _rb6(st_length(sl)).alias("sl_len"),
        _rb6(st_x(pr)).alias("px"),
        _rb6(st_y(pr)).alias("py"))


def _q_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) layout keys over customer lon/lat — the
    file-clustering write key (operators/layout.py). Pure JVM bit
    arithmetic; the oracle mirrors the identical quantize + spread-bits
    ladder with DuckDB integer ops. %7 rows carry a NULL coordinate
    through (null-in/null-out, the greatest/least clamp trap)."""
    from datafusion_geo_spark.operators.layout import morton_key
    from datafusion_geo_spark.sources.fixtures import load_table
    c = load_table(spark, sf_dir, "customer")
    x = F.when(F.col("c_custkey") % 7 != 0,
               (F.col("c_custkey") % 360 - 180).cast("double"))
    y = (F.col("c_nationkey") * 7 - 84).cast("double")
    return c.select(
        "c_custkey",
        morton_key(x, y, (-180.0, -90.0, 180.0, 90.0)).alias("zkey"))


def _morton_sql(xe: str, ye: str) -> str:
    """DuckDB twin of layout.morton_key: identical quantization and
    spread-bits ladder via integer bit ops."""
    def cell(e: str, lo: float, hi: float) -> str:
        q = (f"CAST(floor((({e}) - ({lo})) / ({hi} - {lo}) * 65536.0) "
             f"AS BIGINT)")
        return f"LEAST(65535, GREATEST(0, {q}))"

    def spread(e: str) -> str:
        m = f"(({e}) & 65535)"
        for mask, sh in ((0x00FF00FF, 8), (0x0F0F0F0F, 4),
                         (0x33333333, 2), (0x55555555, 1)):
            m = f"((({m}) | (({m}) << {sh})) & {mask})"
        return m

    qx = cell(xe, -180.0, 180.0)
    qy = cell(ye, -90.0, 90.0)
    return f"({spread(qx)} | ({spread(qy)} << 1))"


def _q_makevalid_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_MakeValid (linework/even-odd) + ST_Node goldens pinned by
    tests/test_makevalid.py: bowtie split, valid round-trip (incl.
    hole), spike drop, figure-8 pinch, crossing/self-crossing/overlap
    noding."""
    from datafusion_geo_spark.functions import (st_astext, st_geomfromtext,
                                                st_makevalid, st_node)
    rows = [
        (1, "POLYGON((0 0,2 2,2 0,0 2,0 0))",
         "MULTILINESTRING((0 0,10 0),(5 -5,5 5))"),
        (2, "POLYGON((0 0,10 0,10 10,0 10,0 0),(4 4,4 6,6 6,6 4,4 4))",
         "LINESTRING(0 0,4 4,4 0,0 4)"),
        (3, "POLYGON((0 0,4 0,4 4,2 4,2 2,2 4,0 4,0 0))",
         "MULTILINESTRING((0 0,10 0),(2 0,8 0))"),
        (4, "POLYGON((0 0,2 0,2 2,0 2,0 0,-2 0,-2 -2,0 -2,0 0))",
         "LINESTRING(0 0,5 5)"),
    ]
    df = spark.createDataFrame(rows, "id int, p string, l string")
    return df.select(
        "id",
        st_astext(st_makevalid(st_geomfromtext(F.col("p"))))
        .alias("valid_wkt"),
        st_astext(st_node(st_geomfromtext(F.col("l"))))
        .alias("noded_wkt"))


def _q_makevalid_bowties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_MakeValid at fixture scale: a translated bowtie per lineitem
    row splits into its two unit-triangle lobes — the repaired WKT and
    area are fixture-analytic (translation-invariant lobe order pinned
    by the literal golden)."""
    from datafusion_geo_spark.functions import (st_area, st_astext,
                                                st_geomfromtext,
                                                st_makevalid)
    from datafusion_geo_spark.sources.fixtures import _spread, load_table
    li = _spread(load_table(spark, sf_dir, "lineitem")
                 .where(F.col("l_linenumber") == 3)
                 .select("l_orderkey", "l_partkey"))
    x0 = (F.col("l_orderkey") % 500).cast("int")
    y0 = (F.col("l_partkey") % 500).cast("int")
    w = F.format_string(
        "POLYGON((%d %d,%d %d,%d %d,%d %d,%d %d))",
        x0, y0, x0 + 2, y0 + 2, x0 + 2, y0, x0, y0 + 2, x0, y0)
    mv = st_makevalid(st_geomfromtext(w))
    return li.select("l_orderkey",
                     st_astext(mv).alias("valid_wkt"),
                     _rb6(st_area(mv)).alias("valid_area"))


def _q_bounding_forms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_MinimumBoundingRadius (center + radius) and
    ST_OrientedEnvelope over lineitem-translated 10x10 boxes — for an
    axis-aligned integer box every output is analytic: center
    (x0+5, y0+5), radius sqrt(50) (Welzl's diagonal _circle_2 computes
    hypot(10,10)/2, bit-equal to DuckDB's sqrt(50.0)), envelope = the
    box itself with the canonical ring start."""
    from datafusion_geo_spark.functions import (st_astext, st_makeenvelope,
                                                st_minboundcenter,
                                                st_minimumboundingradius,
                                                st_orientedenvelope, st_x,
                                                st_y)
    from datafusion_geo_spark.sources.fixtures import _spread, load_table
    li = _spread(load_table(spark, sf_dir, "lineitem")
                 .where(F.col("l_linenumber") == 2)
                 .select("l_orderkey", "l_partkey"))
    x0 = (F.col("l_orderkey") % 500).cast("double")
    y0 = (F.col("l_partkey") % 500).cast("double")
    g = st_makeenvelope(x0, y0, x0 + 10, y0 + 10)
    c = st_minboundcenter(g)
    return li.select(
        "l_orderkey",
        _rb6(st_x(c)).alias("cx"),
        _rb6(st_y(c)).alias("cy"),
        _rb6(st_minimumboundingradius(g)).alias("radius"),
        st_astext(st_orientedenvelope(g)).alias("env_wkt"))


def _q_cluster_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PostGIS ST_ClusterWithin (single-linkage within distance d) over
    the same analytic layout as dbscan_clusters — DBSCAN with
    min_pts=1, so even the scattered %13 points appear as singleton
    clusters (their own id) instead of NULL noise. Oracle: the
    recursive-CTE closure without the core distinction."""
    from datafusion_geo_spark.operators.cluster import cluster_within_points
    from datafusion_geo_spark.sources.fixtures import load_table
    c = load_table(spark, sf_dir, "customer")
    ck, nk = F.col("c_custkey"), F.col("c_nationkey")
    scattered = ck % 13 == 0
    x = F.when(scattered, 2000.0 + ck * 3) \
         .otherwise((nk % 5) * 50 + ck % 7).cast("double")
    y = F.when(scattered, -((ck * 7) % 997).cast("double")) \
         .otherwise((F.floor(nk / 5) * 50 + ck % 11).cast("double"))
    pts = c.select(ck.alias("id"), x.alias("x"), y.alias("y"))
    out = cluster_within_points(pts, 2.0)
    return out.select(F.col("id").alias("c_custkey"), "cluster")


def _q_union_agg_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Union AGGREGATE: each nation contributes a box in a pairwise-
    overlapping horizontal chain per region ([5i, 5i+8] × [0, 10]); the
    aggregate dissolves each region's chain into ONE rectangle whose
    area is analytic ((5·(n−1)+8)·10). collect_list gathers the group
    JVM-side; the per-group fold is the only Python (functions.
    st_union_agg)."""
    from pyspark.sql import Window
    from datafusion_geo_spark.functions import (st_area, st_astext,
                                                st_makeenvelope,
                                                st_union_agg)
    from datafusion_geo_spark.sources.fixtures import load_table
    n = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    i = (F.row_number().over(w) - 1).cast("double")
    boxed = n.select(
        "n_regionkey",
        st_makeenvelope(5 * i, F.lit(0.0), 5 * i + 8, F.lit(10.0))
        .alias("g"))
    u = (boxed.groupBy("n_regionkey")
         .agg(st_union_agg(F.col("g")).alias("u"),
              F.count(F.lit(1)).alias("n_boxes")))
    # area + count only: the dissolved ring's collinear cut vertices
    # depend on fold order, so exact WKT is not an analytic oracle —
    # the area is (setops_literal / setops_boxes hash exact WKT)
    return u.select("n_regionkey", "n_boxes",
                    _rb6(st_area(F.col("u"))).alias("union_area"))


def _q_setops_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden PostGIS-parity set-op cases: overlap, containment (hole
    punch), edge-touch dissolve, line clip, line×line crossing — the
    semantics tests/test_setops.py pins, hash-gated through the driver.
    """
    from datafusion_geo_spark.functions import (st_astext, st_difference,
                                                st_geomfromtext,
                                                st_intersection, st_union)
    A = "POLYGON((0 0,2 0,2 2,0 2,0 0))"
    rows = [
        (1, A, "POLYGON((1 1,3 1,3 3,1 3,1 1))"),
        (2, A, "POLYGON((0.5 0.5,1.5 0.5,1.5 1.5,0.5 1.5,0.5 0.5))"),
        (3, A, "POLYGON((2 0,4 0,4 2,2 2,2 0))"),
        (4, "LINESTRING(-1 1,3 1)", A),
        (5, "LINESTRING(0 0,10 0)", "LINESTRING(3 -1,5 3)"),
    ]
    df = spark.createDataFrame(rows, "id int, a string, b string")
    ga, gb = st_geomfromtext(F.col("a")), st_geomfromtext(F.col("b"))
    return df.select(
        "id",
        st_astext(st_intersection(ga, gb)).alias("i_wkt"),
        st_astext(st_union(ga, gb)).alias("u_wkt"),
        st_astext(st_difference(ga, gb)).alias("d_wkt"))


def _q_relate_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Contains/Within/Touches/Overlaps + ST_Intersects over the same
    analytic box sweep as setops_boxes (partial overlap / containment /
    edge-touch / disjoint all occur). For axis-aligned boxes every
    predicate reduces to integer interval comparisons — the oracle."""
    from datafusion_geo_spark.functions import (st_contains, st_intersects,
                                                st_makeenvelope, st_overlaps,
                                                st_touches, st_within)
    from datafusion_geo_spark.sources.fixtures import _spread, load_table
    li = _spread(load_table(spark, sf_dir, "lineitem")
                 .select("l_orderkey", "l_linenumber", "l_partkey",
                         "l_suppkey"))
    x0 = (F.col("l_orderkey") % 500).cast("double")
    y0 = (F.col("l_partkey") % 500).cast("double")
    dx = (F.col("l_linenumber") - 3).cast("double")
    dy = ((F.col("l_suppkey") % 25) - 7).cast("double")
    a = F.when(F.col("l_orderkey") % 7 != 0,
               st_makeenvelope(x0, y0, x0 + 10, y0 + 10))
    b = st_makeenvelope(x0 + dx, y0 + dy, x0 + dx + 8, y0 + dy + 8)
    df = li.withColumn("_a", a).withColumn("_b", b)
    return df.select(
        "l_orderkey", "l_linenumber",
        st_intersects(F.col("_a"), F.col("_b")).alias("inter"),
        st_contains(F.col("_a"), F.col("_b")).alias("cont"),
        st_within(F.col("_b"), F.col("_a")).alias("withn"),
        st_touches(F.col("_a"), F.col("_b")).alias("touch"),
        st_overlaps(F.col("_a"), F.col("_b")).alias("ovlp"))


def _q_relate_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden DE-9IM split cases (covers-vs-contains on boundaries,
    endpoint kisses, line-through-polygon crossings) — the semantics
    tests/test_relate.py pins, hash-gated through the driver."""
    from datafusion_geo_spark.functions import (st_contains, st_crosses,
                                                st_geomfromtext,
                                                st_overlaps, st_touches)
    A = "POLYGON((0 0,2 0,2 2,0 2,0 0))"
    rows = [
        (1, A, "POINT(2 1)"),                     # boundary point
        (2, A, "POINT(1 1)"),                     # interior point
        (3, A, "LINESTRING(0 0,2 0)"),            # line riding the edge
        (4, A, "POLYGON((1 1,3 1,3 3,1 3,1 1))"),  # partial overlap
        (5, "LINESTRING(-1 1,3 1)", A),           # line through polygon
        (6, "LINESTRING(0 0,10 0)", "LINESTRING(3 -1,5 3)"),   # X
        (7, "LINESTRING(0 0,10 0)", "LINESTRING(10 0,12 5)"),  # kiss
        (8, "LINESTRING(0 0,10 0)", "LINESTRING(4 0,12 0)"),   # overlap
    ]
    df = spark.createDataFrame(rows, "id int, a string, b string")
    ga, gb = st_geomfromtext(F.col("a")), st_geomfromtext(F.col("b"))
    return df.select(
        "id",
        st_contains(ga, gb).alias("cont"),
        st_touches(ga, gb).alias("touch"),
        st_overlaps(ga, gb).alias("ovlp"),
        st_crosses(ga, gb).alias("crss"))


def _q_relate_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full DE-9IM matrices (ST_Relate, geo/de9im.py) over the golden
    pair set tests/test_de9im.py pins by hand-derivation, plus the
    pattern forms (3-arg ST_Relate and ST_RelateMatch)."""
    from datafusion_geo_spark.functions import (st_geomfromtext, st_relate,
                                                st_relatematch)
    A = "POLYGON((0 0,2 0,2 2,0 2,0 0))"
    rows = [
        (1, A, "POINT(2 1)"),
        (2, A, "POINT(1 1)"),
        (3, A, "LINESTRING(0 0,2 0)"),
        (4, A, "POLYGON((1 1,3 1,3 3,1 3,1 1))"),
        (5, "LINESTRING(-1 1,3 1)", A),
        (6, "LINESTRING(0 0,10 0)", "LINESTRING(3 -1,5 3)"),
        (7, "LINESTRING(0 0,10 0)", "LINESTRING(10 0,12 5)"),
        (8, "LINESTRING(0 0,10 0)", "LINESTRING(4 0,12 0)"),
        (9, A, "POLYGON((2 0,4 0,4 2,2 2,2 0))"),
        (10, A, "POLYGON((0.5 0.5,1.5 0.5,1.5 1.5,0.5 1.5,0.5 0.5))"),
        (11, "MULTILINESTRING((0 0,1 0),(1 0,2 0))", "POINT(1 0)"),
        (12, "POINT(5 0)", "LINESTRING(0 0,10 0)"),
    ]
    df = spark.createDataFrame(rows, "id int, a string, b string")
    ga, gb = st_geomfromtext(F.col("a")), st_geomfromtext(F.col("b"))
    m = st_relate(ga, gb)
    return df.select(
        "id",
        m.alias("de9im"),
        st_relate(ga, gb, "T*****FF*").alias("contains_pat"),
        st_relatematch(m, "FF*FF****").alias("disjoint_pat"))


def _q_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank (operators/graph.py) over the MinHash
    near-dup pair graph: 3 unrolled rounds of floor-division
    contributions — reproducible across engines/partitionings because
    every intermediate is an int64."""
    from datafusion_geo_spark.operators.dedup import (lsh_pairs,
                                                      minhash_signature,
                                                      with_perturbed_copies)
    from datafusion_geo_spark.operators.graph import pagerank_int
    corpus = with_perturbed_copies(_docs(spark, sf_dir))
    pairs = lsh_pairs(minhash_signature(corpus))
    return pagerank_int(pairs, iters=3)


def _pagerank_oracle() -> str:
    """Unrolled integer-PageRank replay over the minhash-pair edges."""
    body = [f"""edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION
          SELECT id_b AS src, id_a AS dst FROM pairs
        ), deg AS (
          SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
        ), r0 AS (
          SELECT src, 1000000::BIGINT AS rank_int FROM deg
        )"""]
    for i in range(3):
        body.append(f"""r{i + 1} AS (
          SELECT d.src,
                 CAST(150000 + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT)
                   AS rank_int
          FROM deg d LEFT JOIN (
            SELECT e.dst, SUM(r.rank_int // dd.deg) AS s
            FROM edges e
            JOIN r{i} r ON r.src = e.src
            JOIN deg dd ON dd.src = e.src
            GROUP BY e.dst) s ON s.dst = d.src
        )""")
    return (f"WITH pairs AS (SELECT id_a, id_b FROM ({_minhash_oracle()}) t),\n"
            + ",\n".join(body)
            + "\nSELECT src AS id, rank_int FROM r3")


def _q_hilbert_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert layout keys over customer points (operators/layout.py
    with_hilbert_key, 8-bit grid over the fixture bounds) — the
    stronger-locality sibling of zorder_keys: consecutive keys are
    grid-adjacent (tests/test_hilbert.py), so key-range files cover
    contiguous regions. Both engines replay the SAME per-level walk
    (linear projections / chained CTEs from one generator family)."""
    from datafusion_geo_spark.operators.layout import with_hilbert_key
    from datafusion_geo_spark.sources.fixtures import points_customer
    cu = (points_customer(spark, sf_dir)
          .where(F.col("geom").isNotNull())
          .select("c_custkey", "x", "y"))
    return with_hilbert_key(cu, "x", "y",
                            (-180.0, -37.5, 180.0, 37.5), 8) \
        .select("c_custkey", "hkey")


def _q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative quality curation (operators/text.py
    percentile_quality_filter): keep documents whose mean unigram
    logprob sits at or above the corpus P25 — the drop-the-worst-
    quartile pass after absolute rule filters."""
    from datafusion_geo_spark.operators.text import \
        percentile_quality_filter
    from datafusion_geo_spark.sources.fixtures import load_table
    docs = load_table(spark, sf_dir, "documents")
    return percentile_quality_filter(docs, pct=0.25) \
        .select("doc_id", "n_tokens", "lp_micro_sum")


def _q_longest_line_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_MaxDistance / ST_LongestLine over exact-integer literals
    (vertex-pair witnesses, smallest-pair tie-break)."""
    from datafusion_geo_spark.functions import (st_astext, st_geomfromtext,
                                                st_longestline,
                                                st_maxdistance)
    rows = [
        (1, "POLYGON((0 0,10 0,10 10,0 10,0 0))", "POINT(12 10)"),
        (2, "LINESTRING(0 0,10 0)", "LINESTRING(0 5,10 5)"),
        (3, "POINT(0 0)", "POINT(3 4)"),
        (4, "MULTIPOINT(0 0,1 1)", "MULTIPOINT(4 5,2 2)"),
    ]
    df = spark.createDataFrame(rows, "id int, a string, b string")
    ga, gb = st_geomfromtext(F.col("a")), st_geomfromtext(F.col("b"))
    return df.select(
        "id",
        _rb6(st_maxdistance(ga, gb)).alias("maxd"),
        st_astext(st_longestline(ga, gb)).alias("ll_wkt"))


def _q_streaming_map_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming map matching: event lattice points snap to their
    nearest broadcast segment within r=5 (same clamped-projection
    arithmetic as map_match, argmin via a min-struct aggregate — window
    functions don't stream, struct-MIN does), counted per segment in
    complete mode. Stateless join + bounded (segment) aggregate."""
    import uuid as _uuid
    from datafusion_geo_spark.sources.fixtures import (load_events_stream,
                                                       load_table)
    ev = (load_events_stream(spark, sf_dir)
          .where(F.col("user_id").isNotNull())
          .withColumn("px", (F.col("user_id") % 360 - 180).cast("double"))
          .withColumn("py", ((F.col("user_id") % 25) * 3 - 37.5)
                      .cast("double")))
    o = load_table(spark, sf_dir, "orders") \
        .where(F.col("o_orderkey") % 97 == 0)
    k = (F.col("o_orderkey") % 1000).cast("double")
    segs = F.broadcast(o.select(
        "o_orderkey", k.alias("ax"), (k + 1).alias("ay"),
        (k + 4).alias("bx"), (k + 5).alias("by")))
    j = ev.crossJoin(segs)
    dx, dy = F.col("bx") - F.col("ax"), F.col("by") - F.col("ay")
    l2 = dx * dx + dy * dy
    t = F.greatest(F.lit(0.0), F.least(F.lit(1.0),
        ((F.col("px") - F.col("ax")) * dx
         + (F.col("py") - F.col("ay")) * dy) / l2))
    qx, qy = F.col("ax") + t * dx, F.col("ay") + t * dy
    d2 = (F.col("px") - qx) * (F.col("px") - qx) \
        + (F.col("py") - qy) * (F.col("py") - qy)
    j = j.withColumn("_d2", d2).where(F.col("_d2") <= F.lit(25.0))
    # the per-event argmin then per-segment count is TWO aggregation
    # levels — unsupported as a chained streaming aggregate, so the
    # micro-batch finishes it batch-side via foreachBatch (the
    # streaming_rollup upsert pattern; bounded replay = one batch)
    name = "stream_mm_" + _uuid.uuid4().hex[:8]
    acc: dict = {}

    def _batch(bdf, _epoch):
        best = (bdf.groupBy("event_id")
                .agg(F.min(F.struct(F.col("_d2"), F.col("o_orderkey")))
                     .alias("m"))
                .select(F.col("m.o_orderkey").alias("o_orderkey")))
        for r in (best.groupBy("o_orderkey")
                  .agg(F.count(F.lit(1)).alias("n")).collect()):
            acc[r["o_orderkey"]] = acc.get(r["o_orderkey"], 0) + r["n"]

    # r12 measured and left alone: stateless foreachBatch — resizing
    # partitions would serialize the batch-side argmin groupBy, and
    # dropping the no-data batch measured parity (4.6 s either way)
    q = (j.select("event_id", "_d2", "o_orderkey")
         .writeStream.foreachBatch(_batch)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    out = spark.createDataFrame(
        [(int(k), int(v)) for k, v in sorted(acc.items())],
        "o_orderkey long, n_matches long")
    out.createOrReplaceTempView(name)
    return out


def _q_buildarea_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_BuildArea over golden linework: simple ring, donut, shared
    edge dissolve, triple nesting, dangling edges, open line."""
    from datafusion_geo_spark.functions import (st_area, st_astext,
                                                st_buildarea,
                                                st_geomfromtext)
    rows = [
        (1, "LINESTRING(0 0,10 0,10 10,0 10,0 0)"),
        (2, "MULTILINESTRING((0 0,10 0,10 10,0 10,0 0),"
            "(2 2,8 2,8 8,2 8,2 2))"),
        (3, "MULTILINESTRING((0 0,5 0,5 10,0 10,0 0),"
            "(5 0,10 0,10 10,5 10))"),
        (4, "MULTILINESTRING((0 0,20 0,20 20,0 20,0 0),"
            "(4 4,16 4,16 16,4 16,4 4),(8 8,12 8,12 12,8 12,8 8))"),
        (5, "MULTILINESTRING((0 0,1 1),(0 0,4 0,4 4,0 4,0 0))"),
        (6, "LINESTRING(0 0,5 5)"),
    ]
    df = spark.createDataFrame(rows, "id int, wkt string")
    b = st_buildarea(st_geomfromtext(F.col("wkt")))
    return df.select("id", st_astext(b).alias("area_wkt"),
                     _rb6(st_area(b)).alias("area"))


def _q_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token→id encoding (operators/text.py encode_with_vocab): top-128
    vocabulary, OOV id 0, documents as id sequences (emitted as the
    space-joined string so the hash compare is list-representation
    agnostic)."""
    from datafusion_geo_spark.operators.text import encode_with_vocab
    from datafusion_geo_spark.sources.fixtures import load_table
    docs = load_table(spark, sf_dir, "documents") \
        .where(F.col("doc_id") < 200)
    enc = encode_with_vocab(docs, vocab_size=128)
    return enc.select(
        "doc_id",
        F.array_join(F.col("ids"), " ").alias("ids_str"),
        F.size(F.col("ids")).alias("n_tokens"),
        F.col("n_oov"))


def _q_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's BUILT-IN session_window (the idiomatic spelling of gap
    sessionization, vs the window-function twin batch_sessions and the
    applyInPandasWithState streaming sessionizer): per-user 30-minute
    gap sessions as one groupBy — the aggregate Catalyst plans with
    session-window merging, no explicit lag/cumsum."""
    from datafusion_geo_spark.sources.fixtures import load_events
    ev = load_events(spark, sf_dir).where(F.col("ts").isNotNull())
    return (ev.groupBy(F.col("user_id"),
                       F.session_window("ts", "30 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.round(F.col("value") * 100).cast("long"))
                 .alias("sum_cents"))
            .select("user_id",
                    F.unix_micros(F.col("w.start")).alias("start_us"),
                    F.unix_micros(F.col("w.end")).alias("end_us"),
                    "n_events", "sum_cents"))


def _q_streaming_hexbin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming hex heatmap: the events stream mapped to lattice
    points, binned with the zero-UDF hex assignment, counted per cell
    in complete mode — the live-dashboard shape; bounded (q, r) state."""
    import uuid as _uuid
    from datafusion_geo_spark.operators.hexbin import hex_cell
    from datafusion_geo_spark.sources.fixtures import load_events_stream
    ev = (load_events_stream(spark, sf_dir)
          .where(F.col("user_id").isNotNull())
          .withColumn("px", (F.col("user_id") % 360 - 180).cast("double"))
          .withColumn("py", ((F.col("user_id") % 25) * 3 - 37.5)
                      .cast("double")))
    cell = hex_cell(F.col("px"), F.col("py"), 12.0)
    agg = (ev.select(cell.alias("_c"))
           .groupBy(F.col("_c.q").alias("q"), F.col("_c.r").alias("r"))
           .agg(F.count(F.lit(1)).alias("n")))
    from datafusion_geo_spark.streaming.runner import run_bounded_complete
    return run_bounded_complete(agg, "stream_hexbin_",
                                source_paths=(f"{sf_dir}/events.parquet",))


def _q_map_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-radius map matching (operators/spatial_join.py
    nearest_segment_join): sampled customer points snap to the nearest
    order segment within r=5 — segments as coordinate columns, the
    entire join JVM arithmetic (zero Python)."""
    from datafusion_geo_spark.operators.spatial_join import \
        nearest_segment_join
    from datafusion_geo_spark.sources.fixtures import (load_table,
                                                       points_customer)
    pts = (points_customer(spark, sf_dir)
           .where((F.col("c_custkey") % 13 == 0)
                  & F.col("geom").isNotNull())
           .select("c_custkey", "x", "y"))
    o = load_table(spark, sf_dir, "orders") \
        .where(F.col("o_orderkey") % 7 != 0)
    k = (F.col("o_orderkey") % 1000).cast("double")
    segs = o.select("o_orderkey",
                    k.alias("ax"), (k + 1).alias("ay"),
                    (k + 4).alias("bx"), (k + 5).alias("by"))
    out = nearest_segment_join(pts, segs, 5.0, "c_custkey", "o_orderkey")
    return out.select(F.col("pt.c_custkey").alias("c_custkey"),
                      F.col("seg_key").alias("o_orderkey"),
                      _rb6(F.col("dist")).alias("dist"),
                      _rb6(F.col("t")).alias("t"))


def _q_geometric_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_GeometricMedian per market segment: customer points collected
    JVM-side (the st_collect_points_agg aggregate), median'd with the
    fixed-round Weiszfeld kernel. Deterministic: fixed 8 rounds, 9-dp
    iterates — goldens pinned from the pure function."""
    from datafusion_geo_spark.functions import (st_astext,
                                                st_collect_points_agg,
                                                st_geometricmedian,
                                                st_geomfromtext)
    from datafusion_geo_spark.sources.fixtures import points_customer
    cu = points_customer(spark, sf_dir).where(F.col("geom").isNotNull())
    mp = cu.groupBy("c_mktsegment").agg(
        st_collect_points_agg(F.col("x"), F.col("y")).alias("mp_wkt"))
    return mp.select(
        "c_mktsegment",
        st_astext(st_geometricmedian(st_geomfromtext(F.col("mp_wkt"))))
        .alias("median_wkt"))


def _hav_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    """Haversine SQL expression mirroring geo/proj.py haversine_m's
    exact operation order (a = s1·s1 + cosφ1·cosφ2·s2·s2 left-assoc,
    LEAST clamp, 2·R·asin(√a)) — DuckDB libm == Python math."""
    d = "0.017453292519943295"
    s1 = f"sin((({lat2}) - ({lat1})) * {d} / 2.0)"
    s2 = f"sin((({lon2}) - ({lon1})) * {d} / 2.0)"
    return (f"2.0 * 6371008.0 * asin(sqrt(LEAST(1.0, {s1} * {s1} "
            f"+ cos(({lat1}) * {d}) * cos(({lat2}) * {d}) "
            f"* {s2} * {s2})))")


def _sphere_area_oracle() -> str:
    """Replay of _q_sphere_area: the box ring is (xmin ymin, xmin ymax,
    xmax ymax, xmax ymin, xmin ymin) (Geometry.box), so the two
    meridional edges contribute exact +0.0 to the JPL edge sum and the
    two parallel edges are t2/t4 below; the perimeter is the four
    haversine edges left-folded in ring order."""
    d = "0.017453292519943295"
    t2 = (f"(((x + 0.5) - x) * {d} * (2.0 + sin((y + 0.25) * {d}) "
          f"+ sin((y + 0.25) * {d})))")
    t4 = (f"((x - (x + 0.5)) * {d} * (2.0 + sin(y * {d}) "
          f"+ sin(y * {d})))")
    h1 = _hav_sql("x", "y", "x", "y + 0.25")
    h2 = _hav_sql("x", "y + 0.25", "x + 0.5", "y + 0.25")
    h3 = _hav_sql("x + 0.5", "y + 0.25", "x + 0.5", "y")
    h4 = _hav_sql("x + 0.5", "y", "x", "y")
    return f"""
        WITH p AS (
          SELECT c_custkey,
                 (c_custkey % 360 - 180)::DOUBLE AS x,
                 (c_nationkey * 3 - 37.5)::DOUBLE AS y
          FROM customer WHERE c_custkey % 7 <> 0
        )
        SELECT c_custkey,
               floor(abs({t2} + {t4}) * 6371008.0 * 6371008.0 / 2.0
                     * 1000.0 + 0.5)::BIGINT AS area_mm2,
               floor(((({h1} + {h2}) + {h3}) + {h4})
                     * 1000000.0 + 0.5)::BIGINT AS perim_um
        FROM p
    """


def _gmedian_oracle(iters: int = 8) -> str:
    """Unrolled Weiszfeld replay: sequential list_reduce folds mirror
    the kernel's left-to-right float summation; 9-dp rounded iterates;
    1/GREATEST(d, 1e-12) is the branch-free singularity floor."""
    r9 = ("((CASE WHEN ({v}) < 0 THEN -1 ELSE 1 END) "
          "* floor(abs({v}) * 1000000000.0 + 0.5) "
          "/ 1000000000.0 + 0.0)")

    def fold(term: str) -> str:
        return ("list_reduce(list_transform(generate_series(1, n), "
                f"i -> {term}), (a, b) -> a + b)")

    w = ("(1.0 / GREATEST(sqrt((cx - xs[i]) * (cx - xs[i]) "
         "+ (cy - ys[i]) * (cy - ys[i])), 0.000000000001))")
    ctes = [f"""pts AS (
          SELECT c_mktsegment,
                 list(x ORDER BY x, y) AS xs,
                 list(y ORDER BY x, y) AS ys,
                 COUNT(*)::INT AS n
          FROM (SELECT c_mktsegment,
                       (c_custkey % 360 - 180)::DOUBLE AS x,
                       (c_nationkey * 3 - 37.5)::DOUBLE AS y
                FROM customer WHERE c_custkey % 7 <> 0) p
          GROUP BY c_mktsegment
        )""", f"""it0 AS (
          SELECT c_mktsegment, xs, ys, n,
                 {r9.format(v=fold('xs[i]') + ' / n')} AS cx,
                 {r9.format(v=fold('ys[i]') + ' / n')} AS cy
          FROM pts
        )"""]
    for k in range(1, iters + 1):
        ctes.append(f"""it{k} AS (
          SELECT c_mktsegment, xs, ys, n,
                 {r9.format(v=fold('xs[i] * ' + w) + ' / ' + fold(w))}
                   AS cx,
                 {r9.format(v=fold('ys[i] * ' + w) + ' / ' + fold(w))}
                   AS cy
          FROM it{k - 1}
        )""")
    return ("WITH " + ",\n".join(ctes)
            + f"""
            SELECT c_mktsegment,
                   'POINT(' ||
                   (CASE WHEN cx = floor(cx) AND abs(cx) < 1e15
                         THEN CAST(CAST(cx AS BIGINT) AS VARCHAR)
                         ELSE CAST(cx AS VARCHAR) END) || ' ' ||
                   (CASE WHEN cy = floor(cy) AND abs(cy) < 1e15
                         THEN CAST(CAST(cy AS BIGINT) AS VARCHAR)
                         ELSE CAST(cy AS VARCHAR) END) || ')'
                     AS median_wkt
            FROM it{iters}""")


def _q_sphere_nav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geography navigation: initial great-circle bearing from every
    customer point to the origin, and the destination 100 km along
    bearing 0.7 — same libm-exact discipline as distance_sphere."""
    from datafusion_geo_spark.functions import (st_azimuthsphere,
                                                st_point,
                                                st_projectsphere, st_x,
                                                st_y)
    from datafusion_geo_spark.sources.fixtures import points_customer
    cu = points_customer(spark, sf_dir).where(F.col("geom").isNotNull())
    dest = st_projectsphere(F.col("geom"), 100000.0, 0.7)
    return cu.select(
        "c_custkey",
        _rb6(st_azimuthsphere(
            F.col("geom"), st_point(F.lit(0.0), F.lit(0.0))))
        .alias("az"),
        _rb6(st_x(dest)).alias("dlon"),
        _rb6(st_y(dest)).alias("dlat"))


def _q_sphere_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geography measures: spherical area and perimeter of a
    0.5°x0.25° lon/lat box at every customer point (ST_AreaSphere /
    ST_PerimeterSphere — the geography ST_Area/ST_Perimeter twins,
    geo/proj.py sphere_area_m2 JPL edge-sum + haversine rings).
    Outputs as exact scaled integers (milli-m² / micro-m): the
    pre-round doubles are bit-identical across engines (fixed literal
    constants + operation order, Python math == DuckDB libm), so the
    floor(x·scale + 0.5) ints compare exactly."""
    from datafusion_geo_spark.functions import (st_areasphere,
                                                st_makeenvelope,
                                                st_perimetersphere)
    from datafusion_geo_spark.sources.fixtures import points_customer
    cu = points_customer(spark, sf_dir).where(F.col("geom").isNotNull())
    box = st_makeenvelope(F.col("x"), F.col("y"),
                          F.col("x") + F.lit(0.5),
                          F.col("y") + F.lit(0.25))
    return cu.select(
        "c_custkey",
        F.floor(st_areasphere(box) * F.lit(1000.0) + F.lit(0.5))
        .cast("long").alias("area_mm2"),
        F.floor(st_perimetersphere(box) * F.lit(1000000.0) + F.lit(0.5))
        .cast("long").alias("perim_um"))


def _q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics — the classic GIS aggregate: per-zone counts
    and exact cent-sums of the customer points covered by each nation
    box (broadcast zones + native bbox containment; covers on an
    axis-aligned box is the inclusive range condition, so the whole
    join is JVM range predicates, no Python)."""
    from datafusion_geo_spark.sources.fixtures import (boxes_nation,
                                                       points_customer)
    cu = points_customer(spark, sf_dir).where(F.col("geom").isNotNull())
    zones = F.broadcast(boxes_nation(spark, sf_dir))
    j = cu.join(
        zones,
        (F.col("x") >= F.col("xmin")) & (F.col("x") <= F.col("xmax"))
        & (F.col("y") >= F.col("ymin")) & (F.col("y") <= F.col("ymax")),
        "inner")
    return (j.groupBy("n_nationkey")
            .agg(F.count(F.lit(1)).alias("n_points"),
                 F.sum(F.col("c_custkey")).alias("key_sum")))


def _q_accessors2_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accessor batch II: ST_IsEmpty / ST_Dimension / ST_ExteriorRing /
    ST_InteriorRingN / ST_NumInteriorRings / ST_BoundingDiagonal over
    exact-integer literals."""
    from datafusion_geo_spark.functions import (st_astext,
                                                st_boundingdiagonal,
                                                st_dimension,
                                                st_exteriorring,
                                                st_geomfromtext,
                                                st_interiorringn,
                                                st_isempty,
                                                st_numinteriorrings)
    rows = [
        (1, "POLYGON((0 0,10 0,10 10,0 10,0 0),(2 2,4 2,4 4,2 4,2 2),"
            "(6 6,8 6,8 8,6 8,6 6))"),
        (2, "POLYGON((0 0,3 0,3 3,0 3,0 0))"),
        (3, "LINESTRING(1 2,5 8)"),
        (4, "POINT(7 7)"),
        (5, "POLYGON EMPTY"),
        (6, "GEOMETRYCOLLECTION(POINT(1 1),LINESTRING(0 0,2 2))"),
    ]
    df = spark.createDataFrame(rows, "id int, wkt string")
    g = st_geomfromtext(F.col("wkt"))
    return df.select(
        "id",
        st_isempty(g).alias("empty"),
        st_dimension(g).alias("dim"),
        st_astext(st_exteriorring(g)).alias("shell_wkt"),
        st_astext(st_interiorringn(g, 2)).alias("hole2_wkt"),
        st_numinteriorrings(g).alias("n_holes"),
        st_astext(st_boundingdiagonal(g)).alias("diag_wkt"))


def _q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded JL sketch over int8 codes (operators/similarity.py
    random_projection_int): derived ±1 matrix, exact integer sums —
    the dimensionality-reduction stage of a cheap-candidate ANN
    pipeline."""
    from datafusion_geo_spark.operators.similarity import \
        random_projection_int
    from datafusion_geo_spark.sources.fixtures import load_table
    emb = load_table(spark, sf_dir, "embeddings") \
        .where(F.col("vec_id") < 200)
    return random_projection_int(emb, out_dim=16, seed="rp1")


def _q_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural profile of the near-dup graph (operators/graph.py
    graph_stats): vertex/edge counts, max degree, exact triangle count
    via oriented two-join enumeration."""
    from datafusion_geo_spark.operators.dedup import (lsh_pairs,
                                                      minhash_signature,
                                                      with_perturbed_copies)
    from datafusion_geo_spark.operators.graph import graph_stats
    corpus = with_perturbed_copies(_docs(spark, sf_dir))
    return graph_stats(lsh_pairs(minhash_signature(corpus)))


def _q_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real multimodal DSP (operators/multimodal.py
    audio_frame_features): document payloads as u8 PCM → per-frame
    DC-centered energy + zero crossings, all-integer exact. ASCII-only
    docs so the oracle's per-character ord() equals the byte value."""
    from datafusion_geo_spark.operators.multimodal import (
        audio_frame_features, to_media)
    docs = (_docs(spark, sf_dir)
            .where(F.col("text").rlike("^[\\x00-\\x7F]*$")))
    return audio_frame_features(to_media(docs), window=256)


def _q_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH detector quality vs exact Jaccard ground truth at
    threshold 0.5 over the perturbed sub-corpus (operators/dedup.py
    minhash_eval) — the text-dedup twin of ann_recall."""
    from datafusion_geo_spark.operators.dedup import (minhash_eval,
                                                      with_perturbed_copies)
    corpus = with_perturbed_copies(
        _docs(spark, sf_dir).where(F.col("doc_id") < 100))
    return minhash_eval(corpus, threshold=0.5)


def _minhash_eval_oracle() -> str:
    """DuckDB twin of _q_minhash_eval: the minhash-pairs replay and the
    exact-Jaccard replay over the same <100 perturbed corpus, reduced
    to the one metrics row."""
    from datafusion_geo_spark.operators.dedup import (LSH_BANDS, LSH_ROWS,
                                                      MINHASH_P, NUM_HASHES,
                                                      hash_params)
    mins = ", ".join(
        f"min(({hash_params(i)[0]} * hh + {hash_params(i)[1]}) "
        f"% {MINHASH_P}) AS mh{i}"
        for i in range(NUM_HASHES))
    bands = " OR ".join(
        "(" + " AND ".join(
            f"a.mh{b * LSH_ROWS + r} = b.mh{b * LSH_ROWS + r}"
            for r in range(LSH_ROWS)) + ")"
        for b in range(LSH_BANDS))
    eq = " + ".join(f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)"
                    for i in range(NUM_HASHES))
    corpus = _CORPUS.format(where="WHERE doc_id < 100")
    h64 = _H64.format(arg="s")
    rb6 = ("((CASE WHEN ({v}) < 0 THEN -1 ELSE 1 END) "
           "* floor(abs({v}) * 1000000.0 + 0.5) / 1000000.0 + 0.0)")
    est = f"(({eq})::DOUBLE / {NUM_HASHES})"
    return f"""
        WITH corpus AS ({corpus}),
        words AS (SELECT doc_id, {_WORDS} AS w FROM corpus),
        rawsh AS (SELECT doc_id,
                      unnest(list_transform(range(len(w) - 2),
                             i -> array_to_string(list_slice(w, i + 1, i + 3), ' '))) AS s
               FROM words),
        h AS (SELECT doc_id, {h64} AS hh FROM rawsh),
        sig AS (SELECT doc_id, {mins} FROM h GROUP BY doc_id),
        pred AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM sig a JOIN sig b
                   ON a.doc_id < b.doc_id AND ({bands})
                 WHERE {rb6.format(v=est)} >= 0.5),
        dsh AS (SELECT DISTINCT doc_id, s FROM rawsh),
        sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM dsh GROUP BY doc_id),
        inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                         COUNT(*) AS ninter
                  FROM dsh a JOIN dsh b
                    ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        truth AS (
          SELECT id_a, id_b FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE {rb6.format(v='(ninter::DOUBLE / (sa.nsh + sb.nsh - ninter))')} >= 0.5),
        m AS (SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
                     (SELECT COUNT(*) FROM pred) AS n_pred,
                     (SELECT COUNT(*) FROM pred p
                      WHERE EXISTS (SELECT 1 FROM truth t
                                    WHERE t.id_a = p.id_a
                                      AND t.id_b = p.id_b)) AS n_tp)
        SELECT n_truth, n_pred, n_tp,
               {rb6.format(v='(n_tp::DOUBLE / GREATEST(n_pred, 1))')} AS precision,
               {rb6.format(v='(n_tp::DOUBLE / GREATEST(n_truth, 1))')} AS recall
        FROM m
    """


def _q_hexbin_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hex binning (operators/hexbin.py): customer points aggregated
    into pointy-top hexagons of circumradius 12 — assignment is pure
    JVM arithmetic (axial + cube rounding), one hash aggregate on two
    ints; the oracle replays the identical IEEE expressions."""
    from datafusion_geo_spark.operators.hexbin import hexbin_counts
    from datafusion_geo_spark.sources.fixtures import points_customer
    cu = (points_customer(spark, sf_dir)
          .where(F.col("geom").isNotNull()))
    return hexbin_counts(cu, 12.0)


def _q_negative_buffer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Buffer with negative width (inward erosion; splits and
    vanishing parts) — semantics pinned by
    tests/test_buffer_offset.py::TestNegativeBuffer."""
    from datafusion_geo_spark.functions import (st_area, st_buffer,
                                                st_geometrytype,
                                                st_geomfromtext,
                                                st_numgeometries)
    rows = [
        (1, "POLYGON((0 0,10 0,10 10,0 10,0 0))", -2.0),
        (2, "POLYGON((0 0,10 0,10 10,0 10,0 0))", -6.0),
        (3, "POLYGON((0 0,20 0,20 4,0 4,0 0),(9 1,11 1,11 3,9 3,9 1))",
            -1.0),
        (4, "POLYGON((0 0,8 0,8 1.8,12 1.8,12 0,20 0,20 6,12 6,"
            "12 4.2,8 4.2,8 6,0 6,0 0))", -1.5),
        (5, "LINESTRING(0 0,5 5)", -1.0),
    ]
    df = spark.createDataFrame(rows, "id int, wkt string, w double")
    b = st_buffer(st_geomfromtext(F.col("wkt")), F.col("w"))
    return df.select(
        "id",
        _rb6(st_area(b)).alias("area"),
        st_geometrytype(b).alias("gtype"),
        st_numgeometries(b).alias("nparts"))


def _q_streaming_geofence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming geofencing (streaming/geofence.py): event stream
    bbox-matched against broadcast fence polygons, exact-covers
    refined, counted per fence — stateless stream-static join, bounded
    (fence_id) aggregate state."""
    from datafusion_geo_spark.streaming.geofence import \
        streaming_geofence_hits
    return streaming_geofence_hits(spark, sf_dir)


def _q_trajectories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory construction: ST_MakeLine-style aggregate per order —
    lineitem points in l_linenumber order become one LINESTRING WKT,
    entirely JVM-side (functions.st_makeline_agg). The canonical
    GPS-trace/telemetry assembly; one hash aggregate on the group
    key."""
    from datafusion_geo_spark.functions import st_makeline_agg
    from datafusion_geo_spark.sources.fixtures import points_lineitem
    li = points_lineitem(spark, sf_dir).where(F.col("geom").isNotNull())
    return (li.groupBy("l_orderkey")
            .agg(st_makeline_agg(F.col("x"), F.col("y"),
                                 F.col("l_linenumber")).alias("traj_wkt"),
                 F.count("*").alias("n_pts")))


def _q_tile_normalize_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_TileEnvelope (exact power-of-two mercator arithmetic) +
    ST_Normalize canonical forms over literals."""
    from datafusion_geo_spark.functions import (st_astext, st_geomfromtext,
                                                st_normalize, st_srid,
                                                st_tileenvelope)
    rows = [
        (1, 0, 0, 0, "POLYGON((2 0,2 2,0 2,0 0,2 0))"),
        (2, 1, 1, 0, "LINESTRING(5 5,0 0)"),
        (3, 2, 1, 2, "MULTIPOINT(3 3,1 1,2 2)"),
        (4, 3, 7, 7,
         "MULTIPOLYGON(((5 5,6 5,6 6,5 6,5 5)),((0 0,1 0,1 1,0 1,0 0)))"),
    ]
    df = spark.createDataFrame(rows, "id int, z int, x int, y int, "
                                     "g string")
    env = st_tileenvelope(F.col("z"), F.col("x"), F.col("y"))
    return df.select(
        "id",
        st_astext(env).alias("tile_wkt"),
        st_srid(env).alias("tile_srid"),
        st_astext(st_normalize(st_geomfromtext(F.col("g"))))
        .alias("norm_wkt"))


def _q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_ClusterKMeans parity (operators/cluster.py kmeans_points):
    Euclidean Lloyd's over customer points, k=4, 2 update rounds +
    final assignment — every step 6-dp-rounded so the unrolled SQL
    replay (_kmeans_oracle) reproduces assignments exactly."""
    from datafusion_geo_spark.operators.cluster import kmeans_points
    from datafusion_geo_spark.sources.fixtures import points_customer
    cu = (points_customer(spark, sf_dir)
          .where(F.col("geom").isNotNull())
          .select(F.col("c_custkey").alias("id"), "x", "y"))
    return (kmeans_points(cu, k=4, iters=2)
            .select(F.col("id").alias("c_custkey"), "cid"))


def _kmeans_oracle(k: int = 4, iters: int = 2) -> str:
    """Unrolled SQL replay of kmeans_points over the customer points —
    same md5 seed order, 6-dp binary-rounded distances and means,
    lowest-cid tie-break (the _pq_oracle discipline)."""
    rb6 = "floor(({v}) * 1000000.0 + 0.5) / 1000000.0"
    rb6s = ("((CASE WHEN ({v}) < 0 THEN -1 ELSE 1 END) "
            "* floor(abs({v}) * 1000000.0 + 0.5) / 1000000.0 + 0.0)")
    d2 = ("(p.x - c.cx) * (p.x - c.cx) + (p.y - c.cy) * (p.y - c.cy)")
    ctes = [
        """p AS (
          SELECT c_custkey AS id,
                 (c_custkey % 360 - 180)::DOUBLE AS x,
                 (c_nationkey * 3 - 37.5)::DOUBLE AS y
          FROM customer WHERE c_custkey % 7 <> 0
        )""",
        f"""c0 AS (
          SELECT (row_number() OVER (
                    ORDER BY md5(CAST(id AS VARCHAR)), id) - 1)::INT
                   AS cid, x AS cx, y AS cy
          FROM p ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT {k}
        )""",
    ]
    for r in range(iters + 1):
        ctes.append(f"""a{r} AS (
          SELECT id, cid FROM (
            SELECT p.id, c.cid,
                   row_number() OVER (
                     PARTITION BY p.id
                     ORDER BY {rb6.format(v=d2)}, c.cid) AS rn
            FROM p, c{r} AS c) t
          WHERE rn = 1
        )""")
        if r < iters:
            ctes.append(f"""c{r + 1} AS (
              SELECT cid, {rb6s.format(v='avg(p.x)')} AS cx,
                          {rb6s.format(v='avg(p.y)')} AS cy
              FROM a{r} JOIN p USING (id) GROUP BY cid
            )""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT id AS c_custkey, cid FROM a{iters}")


def _q_distance_sphere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_DistanceSphere (haversine meters, PostGIS mean radius) from
    every customer point to the origin — the Python-math kernel and
    the DuckDB libm oracle agree bit-for-bit before the shared binary
    rounding (same property transform_points relies on)."""
    from datafusion_geo_spark.functions import st_distancesphere, st_point
    from datafusion_geo_spark.sources.fixtures import points_customer
    cu = points_customer(spark, sf_dir)
    return cu.select(
        "c_custkey",
        _rb6(st_distancesphere(
            F.col("geom"), st_point(F.lit(0.0), F.lit(0.0))))
        .alias("dist_m"))


def _q_distance_spheroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_DistanceSpheroid (geo/proj.py vincenty_m: Vincenty inverse
    on WGS84, deterministic 8 fixed iterations — the geography
    ST_Distance default, up to ~0.5% off the sphere) from every
    customer point to its (+0.5°, +0.5°) neighbor — short geodesics,
    far from the antipodal non-convergence region. The oracle unrolls
    the identical eight λ iterations in SQL (sin/cos/atan2/sqrt all
    native in DuckDB — no exp/ln expansion needed, so the engines
    agree bit-for-bit before the shared 6-dp binary rounding, the
    distance_sphere property)."""
    from datafusion_geo_spark.functions import st_distancespheroid, st_point
    from datafusion_geo_spark.sources.fixtures import points_customer
    cu = points_customer(spark, sf_dir)
    return cu.select(
        "c_custkey",
        _rb6(st_distancespheroid(
            F.col("geom"),
            st_point(F.col("x") + F.lit(0.5), F.col("y") + F.lit(0.5))))
        .alias("dist_m"))


def _q_sphere_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic path length per nation: customers as ordered waypoints,
    consecutive-pair haversine distances summed as exact integer
    micrometers (each segment rounds to 6 dp first, so the per-group
    SUM is summation-order independent — the _ratio6/unigram micro-int
    discipline applied to doubles that ARE bit-identical across
    engines but whose float sums would not be)."""
    from pyspark.sql import Window
    from datafusion_geo_spark.functions import st_distancesphere, st_point
    from datafusion_geo_spark.sources.fixtures import points_customer
    # TWO-PHASE lag (the seeded_shuffle pattern): a window partitioned
    # by c_mktsegment alone is 5 tasks forever — instead rows lag within
    # (segment, custkey-range block), and the block-boundary pairs are
    # patched from a per-block first/last aggregate (one row per block)
    # whose own window sorts only n/1024 rows per segment. Parallelism
    # scales with data; the pair set is identical to the single window.
    cu = (points_customer(spark, sf_dir)
          .where(F.col("geom").isNotNull())
          .select("c_mktsegment", "c_custkey", "x", "y",
                  (F.col("c_custkey") / 1024).cast("long").alias("_b")))
    w = Window.partitionBy("c_mktsegment", "_b").orderBy("c_custkey")
    seg = st_distancesphere(
        st_point(F.col("x"), F.col("y")),
        st_point(F.lag("x").over(w), F.lag("y").over(w)))
    interior = (cu.select(F.col("c_mktsegment"), seg.alias("d"))
                .where(F.col("d").isNotNull()))
    blocks = (cu.groupBy("c_mktsegment", "_b")
              .agg(F.min_by(F.struct("x", "y"), "c_custkey").alias("_f"),
                   F.max_by(F.struct("x", "y"), "c_custkey").alias("_l")))
    wb = Window.partitionBy("c_mktsegment").orderBy("_b")
    prev_last = F.lag("_l").over(wb)
    bseg = st_distancesphere(
        st_point(F.col("_f.x"), F.col("_f.y")),
        st_point(prev_last.getField("x"), prev_last.getField("y")))
    boundary = (blocks.select(F.col("c_mktsegment"), bseg.alias("d"))
                .where(F.col("d").isNotNull()))
    segs = interior.unionByName(boundary)
    um = F.floor(F.col("d") * 1e6 + F.lit(0.5)).cast("long")
    return (segs.groupBy("c_mktsegment")
            .agg(F.sum(um).alias("path_um"),
                 F.count("*").alias("n_segs")))


def _q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention triangle over the events table (operators/sessions.py
    retention_cohorts): first-activity-day cohorts x day offsets."""
    from datafusion_geo_spark.operators.sessions import retention_cohorts
    from datafusion_geo_spark.sources.fixtures import load_events
    return retention_cohorts(load_events(spark, sf_dir))


def _q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view->click->purchase funnel (operators/sessions.py
    funnel_stages): users surviving each ordered stage."""
    from datafusion_geo_spark.operators.sessions import funnel_stages
    from datafusion_geo_spark.sources.fixtures import load_events
    return funnel_stages(load_events(spark, sf_dir),
                         ["view", "click", "purchase"])


def _q_seeded_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle (operators/sampling.py
    seeded_shuffle): reproducible global training order via
    md5(seed|key) range sort — df.orderBy(rand()) is neither
    reproducible nor engine-portable."""
    from datafusion_geo_spark.operators.sampling import seeded_shuffle
    from datafusion_geo_spark.sources.fixtures import load_table
    docs = load_table(spark, sf_dir, "documents")
    return (seeded_shuffle(docs, "doc_id", "epoch1")
            .select("doc_id", "shuffle_order"))


def _q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-incremental exact dedup (operators/dedup.py
    incremental_exact_dedup): new-batch rows whose content hash is
    unseen in the accumulated corpus and canonical within the batch.
    The O(batch) ingest-time shape, vs re-deduping the O(corpus)."""
    from datafusion_geo_spark.operators.dedup import incremental_exact_dedup
    from datafusion_geo_spark.sources.fixtures import load_table
    docs = load_table(spark, sf_dir, "documents")
    seen = docs.where(F.col("doc_id") % 3 == 0)
    batch = docs.where(F.col("doc_id") % 3 != 0)
    return (incremental_exact_dedup(batch, seen)
            .select("doc_id", "lang", "source"))


def _q_offset_clip_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_OffsetCurve (both sides, quadsegs=1 so joints land on exact
    integer normals), ST_SharedPaths direction split, and
    ST_ClipByBox2D — goldens pinned by tests/test_offset_shared_clip.py
    semantics, all exact-integer arithmetic."""
    from datafusion_geo_spark.functions import (st_astext, st_clipbybox2d,
                                                st_geomfromtext,
                                                st_offsetcurve,
                                                st_sharedpaths)
    rows = [
        (1, "LINESTRING(0 0,10 0)", "LINESTRING(6 0,2 0)",
            "POLYGON((0 0,10 0,10 10,0 10,0 0))"),
        (2, "LINESTRING(0 0,10 0,10 10)", "LINESTRING(0 0,4 0)",
            "LINESTRING(-5 1,15 1)"),
        (3, "LINESTRING(0 0,6 0,6 6)",
            "MULTILINESTRING((1 0,3 0),(5 0,4 0))",
            "POLYGON((4 4,14 4,14 14,4 14,4 4))"),
    ]
    df = spark.createDataFrame(rows, "id int, src string, other string, "
                                     "clip string")
    g = st_geomfromtext(F.col("src"))
    return df.select(
        "id",
        st_astext(st_offsetcurve(g, 1.0, 1)).alias("oc_left"),
        st_astext(st_offsetcurve(g, -1.0, 1)).alias("oc_right"),
        st_astext(st_sharedpaths(g, st_geomfromtext(F.col("other"))))
        .alias("sp_wkt"),
        st_astext(st_clipbybox2d(st_geomfromtext(F.col("clip")),
                                 5.0, 5.0, 20.0, 20.0)).alias("clip_wkt"))


def _q_mic_snap_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_MaximumInscribedCircle (polylabel) + ST_Snap over golden
    literals (tests/test_mic_snap.py pins semantics; pocket-radius
    constants are exact surds rounded by the shared binary helper)."""
    from datafusion_geo_spark.functions import (st_astext, st_geomfromtext,
                                                st_maxinscribedcenter,
                                                st_maxinscribedradius,
                                                st_snap)
    rows = [
        (1, "POLYGON((0 0,10 0,10 10,0 10,0 0))",
            "LINESTRING(0 0,10 0)", "POINT(5 0.2)"),
        (2, "POLYGON((0 0,20 0,20 4,0 4,0 0))",
            "LINESTRING(0.1 0,5 5)", "POINT(0 0)"),
        (3, "POLYGON((0 0,10 0,10 10,0 10,0 0),(2 2,8 2,8 8,2 8,2 2))",
            "POLYGON((0 0,10 0,10 10,0 10,0 0))",
            "MULTIPOINT(0.2 0.1,5 -0.3)"),
    ]
    df = spark.createDataFrame(rows, "id int, poly string, src string, "
                                     "ref string")
    p = st_geomfromtext(F.col("poly"))
    return df.select(
        "id",
        st_astext(st_maxinscribedcenter(p)).alias("mic_wkt"),
        _rb6(st_maxinscribedradius(p)).alias("mic_r"),
        st_astext(st_snap(st_geomfromtext(F.col("src")),
                          st_geomfromtext(F.col("ref")), 0.5))
        .alias("snap_wkt"))


def _q_spatial_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial kNN join (operators/spatial_join.py knn_point_join):
    every ~1%-sampled customer point finds its 3 nearest customer
    points (self included at distance 0) through bounded grid-join
    rounds — the PostGIS ``<->`` lateral join shape without a cross
    product. Ties break on the right key, so the result is exact
    against the brute-force oracle."""
    from datafusion_geo_spark.operators.spatial_join import knn_point_join
    from datafusion_geo_spark.sources.fixtures import points_customer
    cu = points_customer(spark, sf_dir)
    left = cu.where((F.col("c_custkey") % 97 == 0)
                    & F.col("geom").isNotNull())
    out = knn_point_join(left, cu, 3, "c_custkey", "c_custkey", cell=8.0)
    return out.select(
        F.col("la.c_custkey").alias("lkey"),
        F.col("rk").alias("rkey"),
        "rn",
        _rb6(F.col("dist")).alias("dist"))


def _q_triangulate_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delaunay / Voronoi / concave hull / seeded point generation over
    literal sites. Correctness is established property-wise in
    tests/test_triangulate.py (empty circumcircle, cell tiling,
    nearest-site, hull coverage); this query pins the DETERMINISTIC
    output the docs promise (sorted sites, canonical triangles,
    seeded sampling)."""
    from datafusion_geo_spark.functions import (st_area, st_astext,
                                                st_concavehull,
                                                st_delaunaytriangles,
                                                st_generatepoints,
                                                st_geomfromtext,
                                                st_numgeometries,
                                                st_snaptogrid,
                                                st_voronoipolygons)
    rows = [
        (1, "MULTIPOINT(0 0,10 0,10 10,0 10)",
            "POLYGON((0 0,10 0,10 10,0 10,0 0))"),
        (2, "MULTIPOINT(0 0,10 0,5 8)",
            "POLYGON((0 0,4 0,4 4,0 4,0 0))"),
        (3, "MULTIPOINT(0 0,10 0,10 10,0 10,5 5,2 7)",
            "POLYGON((0 0,6 0,6 6,0 6,0 0),(2 2,4 2,4 4,2 4,2 2))"),
    ]
    df = spark.createDataFrame(rows, "id int, sites string, poly string")
    g = st_geomfromtext(F.col("sites"))
    p = st_geomfromtext(F.col("poly"))
    return df.select(
        "id",
        st_astext(st_delaunaytriangles(g)).alias("dt_wkt"),
        st_astext(st_delaunaytriangles(g, 1)).alias("edges_wkt"),
        # 1e-6 grid snap strips half-plane-clip float noise so the WKT
        # golden is stable (correctness is property-gated in tests)
        st_astext(st_snaptogrid(st_voronoipolygons(g), 0.000001))
        .alias("vor_wkt"),
        _rb6(st_area(st_concavehull(g, 1.0))).alias("hull_area"),
        st_numgeometries(st_generatepoints(p, 25, 7)).alias("n_gen"))


def _q_validity_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validity predicates + ST_PointOnSurface + discrete Hausdorff /
    Fréchet over golden literals (tests/test_validity_metrics.py pins
    the same semantics; all outputs exact integers/strings)."""
    from datafusion_geo_spark.functions import (st_astext,
                                                st_frechetdistance,
                                                st_geomfromtext,
                                                st_hausdorffdistance,
                                                st_isclosed, st_isring,
                                                st_issimple, st_isvalid,
                                                st_isvalidreason,
                                                st_pointonsurface)
    rows = [
        (1, "POLYGON((0 0,10 0,10 10,0 10,0 0))",
            "LINESTRING(0 0,10 0)", "LINESTRING(0 1,10 1)"),
        (2, "POLYGON((0 0,10 0,0 10,10 10,0 0))",
            "LINESTRING(0 0,10 0)", "LINESTRING(10 0,0 0)"),
        (3, "POLYGON((0 0,10 0,10 10,0 10,0 0),(2 2,8 2,8 8,2 8,2 2))",
            "LINESTRING(0 0,1 0,1 1,0 1,0 0)", "LINESTRING(0 0,3 4)"),
        (4, "LINESTRING(0 0,10 0,5 5,5 -1)",
            "POINT(0 0)", "LINESTRING(2 0,4 0)"),
    ]
    df = spark.createDataFrame(rows, "id int, g string, a string, b string")
    g = st_geomfromtext(F.col("g"))
    a, b = st_geomfromtext(F.col("a")), st_geomfromtext(F.col("b"))
    return df.select(
        "id",
        st_isvalid(g).alias("valid"),
        st_isvalidreason(g).alias("reason"),
        st_issimple(g).alias("simple"),
        st_isclosed(a).alias("closed_a"),
        st_isring(a).alias("ring_a"),
        st_astext(st_pointonsurface(g)).alias("pos_wkt"),
        _rb6(st_hausdorffdistance(a, b)).alias("hd"),
        _rb6(st_frechetdistance(a, b)).alias("fd"))


def _q_edit_utils_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5-tail editing utilities (ST_Affine/Expand/Angle/SnapToGrid/
    AddPoint/Multi/CollectionExtract/Dump) over exact-integer literals —
    goldens pinned by tests/test_edit_utils.py, WKT printed identically
    by both engines."""
    from datafusion_geo_spark.functions import (st_addpoint, st_affine,
                                                st_angle, st_astext,
                                                st_collectionextract,
                                                st_dump, st_dumppoints,
                                                st_expand, st_geomfromtext,
                                                st_multi, st_point,
                                                st_removerepeatedpoints,
                                                st_snaptogrid)
    rows = [
        (1, "LINESTRING(0 0,1 1)"),
        (2, "LINESTRING(2 0,4 2)"),
        (3, "LINESTRING(0 0,0 0,3 3,3 3,6 6)"),
        (4, "MULTIPOINT(1 1,2 2,3 3)"),
    ]
    df = spark.createDataFrame(rows, "id int, wkt string")
    g = st_geomfromtext(F.col("wkt"))
    return df.select(
        "id",
        st_astext(st_affine(g, 2, 0, 0, 3, 10, 20)).alias("aff_wkt"),
        st_astext(st_expand(g, 1)).alias("exp_wkt"),
        st_astext(st_removerepeatedpoints(g)).alias("dedup_wkt"),
        st_astext(st_snaptogrid(g, 2.0)).alias("snap_wkt"),
        st_astext(st_addpoint(g, st_point(F.lit(9.0), F.lit(9.0))))
        .alias("add_wkt"),
        st_astext(st_multi(g)).alias("multi_wkt"),
        st_astext(st_collectionextract(g, 2)).alias("lines_wkt"),
        F.size(st_dump(g)).alias("n_members"),
        F.size(st_dumppoints(g)).alias("n_points"),
        _rb6(st_angle(st_point(F.lit(0.0), F.lit(0.0)),
                      st_point(F.lit(1.0), F.lit(0.0)),
                      st_point(F.lit(1.0), F.lit(1.0)))).alias("ang"))


def _q_geom_edit_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_FlipCoordinates / ST_Scale (exact WKT — integer and .5-decimal
    fixture coords print identically in both engines) and ST_Rotate
    (6-dp rounded doubles; same x·cosθ − y·sinθ formula in the oracle)
    over analytic customer points."""
    from datafusion_geo_spark.functions import (st_astext,
                                                st_flipcoordinates,
                                                st_point, st_rotate,
                                                st_scale, st_x, st_y)
    from datafusion_geo_spark.sources.fixtures import _spread, load_table
    cu = _spread(load_table(spark, sf_dir, "customer")
                 .select("c_custkey", "c_nationkey"))
    x = (F.col("c_custkey") % 360 - 180).cast("double")
    y = F.col("c_nationkey") * F.lit(3.0) - F.lit(37.5)
    g = F.when(F.col("c_custkey") % 7 != 0, st_point(x, y))
    rot = st_rotate(g, 0.5)
    return cu.select(
        "c_custkey",
        st_astext(st_flipcoordinates(g)).alias("flip_wkt"),
        st_astext(st_scale(g, 2.0, 3.0)).alias("scale_wkt"),
        _rb6(st_x(rot)).alias("rx"),
        _rb6(st_y(rot)).alias("ry"))


def _q_line_edit_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Reverse / ST_Segmentize / ST_LineSubstring / ST_SymDifference
    goldens (tests/test_edit.py pins the semantics)."""
    from datafusion_geo_spark.functions import (st_astext, st_geomfromtext,
                                                st_linesubstring,
                                                st_reverse, st_segmentize,
                                                st_symdifference)
    rows = [(1, "LINESTRING(0 0,10 0,10 10)",
             "POLYGON((0 0,2 0,2 2,0 2,0 0))",
             "POLYGON((1 1,3 1,3 3,1 3,1 1))"),
            (2, "LINESTRING(0 0,3 4)",
             "POLYGON((0 0,4 0,4 4,0 4,0 0))",
             "POLYGON((1 1,3 1,3 3,1 3,1 1))")]
    df = spark.createDataFrame(rows, "id int, line string, a string, b string")
    ln = st_geomfromtext(F.col("line"))
    ga, gb = st_geomfromtext(F.col("a")), st_geomfromtext(F.col("b"))
    return df.select(
        "id",
        st_astext(st_reverse(ln)).alias("rev_wkt"),
        st_astext(st_segmentize(ln, 4.0)).alias("seg_wkt"),
        st_astext(st_linesubstring(ln, 0.25, 0.75)).alias("sub_wkt"),
        st_astext(st_symdifference(ga, gb)).alias("sd_wkt"))


def _q_smoothing_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_ChaikinSmoothing (1/4–3/4 corner cutting, PostGIS-doc example
    verified) and ST_SimplifyVW (Visvalingam–Whyatt area threshold)
    goldens — dyadic inputs keep every coordinate exact
    (tests/test_smoothing.py pins the semantics)."""
    from datafusion_geo_spark.functions import (st_astext,
                                                st_chaikinsmoothing,
                                                st_geomfromtext,
                                                st_simplifyvw)
    rows = [
        (1, "LINESTRING(0 0,4 4,8 0)", 1,
            "LINESTRING(0 0,1 0.1,2 0,3 5,4 0)", 1.0),
        (2, "POLYGON((0 0,4 0,4 4,0 4,0 0))", 1,
            "POLYGON((0 0,8 0,8 8,4 8.1,0 8,0 0))", 1.0),
        (3, "LINESTRING(0 0,8 8,16 0)", 2,
            "LINESTRING(0 0,10 0)", 5.0),
        (4, "MULTILINESTRING((0 0,4 0),(0 4,4 4))", 3,
            "POLYGON((0 0,1 0,1 1,0 1,0 0))", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "id int, cw string, n int, vw string, tol double")
    return df.select(
        "id",
        st_astext(st_chaikinsmoothing(
            st_geomfromtext(F.col("cw")), F.col("n"))).alias("smooth_wkt"),
        st_astext(st_simplifyvw(
            st_geomfromtext(F.col("vw")), F.col("tol"))).alias("vw_wkt"))


def _q_line_merge_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_LineMerge goldens: chain sewing (with reversal), degree-3
    junction left unmerged, pure cycle, disjoint chains, non-lineal
    rejection (tests/test_edit.py::TestLineMerge pins semantics)."""
    from datafusion_geo_spark.functions import (st_astext, st_geomfromtext,
                                                st_linemerge)
    rows = [
        (1, "MULTILINESTRING((1 1,2 2),(0 0,1 1),(2 2,3 2))"),
        (2, "MULTILINESTRING((0 0,1 0),(2 0,1 0),(2 0,3 0))"),
        (3, "MULTILINESTRING((0 0,1 0),(1 0,2 0),(1 0,1 1))"),
        (4, "MULTILINESTRING((0 0,1 0),(1 0,1 1),(1 1,0 1),(0 1,0 0))"),
        (5, "MULTILINESTRING((0 0,1 0),(1 0,2 0),(10 0,11 0),(11 0,12 0))"),
        (6, "POLYGON((0 0,1 0,1 1,0 1,0 0))"),
    ]
    df = spark.createDataFrame(rows, "id int, w string")
    return df.select(
        "id",
        st_astext(st_linemerge(st_geomfromtext(F.col("w"))))
        .alias("merged_wkt"))


def _q_collect_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Collect-style aggregate: canonical MULTIPOINT per mktsegment
    from customer points, built entirely JVM-side (collect_list +
    sort_array + string assembly — no Python in the aggregate path)."""
    from datafusion_geo_spark.functions import st_collect_points_agg
    from datafusion_geo_spark.sources.fixtures import points_customer
    df = points_customer(spark, sf_dir).where(F.col("c_custkey") % 7 != 0)
    return (df.groupBy("c_mktsegment")
            .agg(st_collect_points_agg(F.col("x"), F.col("y"))
                 .alias("multipoint_wkt"),
                 F.count("*").alias("n_points")))


def _q_dwithin_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-band join (operators.spatial_join.dwithin_join):
    lineitem points × customer points within d=2 — grid equi-join over
    d-expanded bboxes with canonical-cell dedup; points_native compiles
    the exact refinement to a JVM sqrt (zero Python in the join)."""
    from datafusion_geo_spark.operators.spatial_join import dwithin_join
    from datafusion_geo_spark.sources.fixtures import (points_customer,
                                                       points_lineitem)
    li = points_lineitem(spark, sf_dir)
    cu = points_customer(spark, sf_dir)
    j = dwithin_join(li, cu, d=2.0, points_native=True)
    dx = F.col("la.xmin") - F.col("rb.xmin")
    dy = F.col("la.ymin") - F.col("rb.ymin")
    return j.select(
        F.col("la.l_orderkey").alias("l_orderkey"),
        F.col("la.l_linenumber").alias("l_linenumber"),
        F.col("rb.c_custkey").alias("c_custkey"),
        _rb6(F.sqrt(dx * dx + dy * dy)).alias("dist"))


def _q_hull_simplify_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_ConvexHull + ST_Simplify golden cases (GEOS degenerate
    semantics: point, collinear, CCW shell; Douglas-Peucker keeping
    endpoints, ring collapse below 4 points)."""
    from datafusion_geo_spark.functions import (st_astext, st_convexhull,
                                                st_geomfromtext, st_simplify)
    rows = [
        (1, "MULTIPOINT(0 0,1 0,1 1,0 1,0.5 0.5)", 0.0),
        (2, "MULTIPOINT(0 0,1 1,2 2)", 0.0),
        (3, "POINT(3 4)", 0.0),
        (4, "LINESTRING(0 0,1 0.1,2 0,3 5,4 0)", 0.5),
        (5, "POLYGON((0 0,4 0,4 1,4 4,0 4,0 0))", 0.5),
        (6, "LINESTRING(10 10,20 21,30 10)", 2.0),
    ]
    df = spark.createDataFrame(rows, "id int, wkt string, tol double")
    g = st_geomfromtext(F.col("wkt"))
    return df.select(
        "id",
        st_astext(st_convexhull(g)).alias("hull_wkt"),
        st_astext(st_simplify(g, F.col("tol"))).alias("simple_wkt"))


def _q_mvt_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#18 ST_AsMVTGeom golden case
    (/root/reference/src/function/as_mvt_geom.rs:119-140)."""
    from datafusion_geo_spark.functions import st_asmvtgeom, st_astext, st_geomfromtext
    df = spark.createDataFrame([(1, "POLYGON((0 0,10 0,10 5,0 -5,0 0))")],
                               "id int, wkt string")
    return df.select(
        "id",
        st_astext(st_asmvtgeom(st_geomfromtext(F.col("wkt")),
                               0.0, 0.0, 4096.0, 4096.0)).alias("mvt_wkt"))


def _q_split_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#16 ST_Split — PostGIS semantics (line by point / by line, ANY
    polygon incl. concave and holed by any polyline blade), NOT the
    reference's author-flagged-broken kernel
    (/root/reference/src/function/split.rs:148). Cases 4-7 exercise the
    round-2 generalization: concave U, holed donut, bent multi-segment
    blade, and a partially-penetrating blade that must not split. Cases
    8-9 exercise the POLYGONAL blade (round-4): the blade cuts with its
    boundary rings — line÷polygon and polygon÷polygon."""
    from datafusion_geo_spark.functions import st_astext, st_geomfromtext, st_split
    rows = [(1, "LINESTRING(0 0,10 10)", "POINT(5 5)"),
            (2, "LINESTRING(0 5,10 5)", "LINESTRING(5 0,5 10)"),
            (3, "POLYGON((0 0,10 0,10 10,0 10,0 0))", "LINESTRING(5 -1,5 11)"),
            (4, "POLYGON((0 0,9 0,9 6,6 6,6 2,3 2,3 6,0 6,0 0))",
             "LINESTRING(-1 4,10 4)"),
            (5, "POLYGON((0 0,20 0,20 20,0 20,0 0),(6 6,6 14,14 14,14 6,6 6))",
             "LINESTRING(3 -1,3 21)"),
            (6, "POLYGON((0 0,10 0,10 10,0 10,0 0))",
             "LINESTRING(-1 3,5 3,5 11)"),
            (7, "POLYGON((0 0,10 0,10 10,0 10,0 0))", "LINESTRING(5 -1,5 5)"),
            (8, "LINESTRING(-2 5,12 5)", "POLYGON((0 0,10 0,10 10,0 10,0 0))"),
            (9, "POLYGON((0 0,10 0,10 10,0 10,0 0))",
             "POLYGON((5 -1,15 -1,15 11,5 11,5 -1))")]
    df = spark.createDataFrame(rows, "id int, wkt string, blade string")
    return df.select(
        "id",
        st_astext(st_split(st_geomfromtext(F.col("wkt")),
                           st_geomfromtext(F.col("blade")))).alias("split_wkt"))


# ----------------------------------------------------- beyond-reference ops

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _spread: the single-row-group fixture otherwise funnels the heavy
    # pre-shuffle stage (word explode × hash fan-out in the dedup family)
    # into one task; no-op on a properly-chunked production table
    from datafusion_geo_spark.sources.fixtures import _spread, load_table
    return _spread(load_table(spark, sf_dir, "documents"))


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_geo_spark.sources.fixtures import _spread, load_table
    return _spread(load_table(spark, sf_dir, "embeddings"))


def _fitted_centroids(vecs: DataFrame, sf_dir: str,
                      n_centroids: int = 8, iters: int = 2) -> list:
    """ONE k-means fit per (sf_dir, params) per process, shared by
    ivf_trained_topk, ann_recall and semantic_dedup (r4 verdict item 5).
    ``vecs`` must be the prenormed base embeddings corpus — the cache
    key encodes that contract."""
    from datafusion_geo_spark.operators.similarity import \
        kmeans_centroids_cached
    return kmeans_centroids_cached(
        vecs, n_centroids, iters,
        cache_key=(sf_dir, "embeddings_normed"))


def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality scoring (operators.text.text_stats)."""
    from datafusion_geo_spark.operators.text import text_stats
    return text_stats(_docs(spark, sf_dir))


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic (operators.text.lang_id)."""
    from datafusion_geo_spark.operators.text import lang_id
    return lang_id(_docs(spark, sf_dir))


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash / md5 / min-word-hash fingerprints (operators.text)."""
    from datafusion_geo_spark.operators.text import fingerprint
    return fingerprint(_docs(spark, sf_dir))


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash over a corpus with injected exact
    copies (id+1000000) — every group must report n_copies=2."""
    import pyspark.sql.functions as FF
    from datafusion_geo_spark.operators.dedup import exact_dedup
    d = _docs(spark, sf_dir).select("doc_id", "text")
    corpus = d.unionAll(d.select((FF.col("doc_id") + 1000000).alias("doc_id"),
                                 "text"))
    return exact_dedup(corpus)


def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs over a corpus with perturbed copies
    (first word dropped) — operators.dedup.{minhash_signature,lsh_pairs}."""
    from datafusion_geo_spark.operators.dedup import (lsh_pairs,
                                                      minhash_signature,
                                                      with_perturbed_copies)
    corpus = with_perturbed_copies(_docs(spark, sf_dir))
    return lsh_pairs(minhash_signature(corpus))


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (banded Hamming join) over the perturbed
    corpus — operators.dedup.{simhash,simhash_near_pairs}."""
    from datafusion_geo_spark.operators.dedup import (simhash,
                                                      simhash_near_pairs,
                                                      with_perturbed_copies)
    corpus = with_perturbed_copies(_docs(spark, sf_dir))
    return simhash_near_pairs(simhash(corpus))


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs (shingle equi-join, no cross product)
    over perturbed copies of the first 100 docs."""
    import pyspark.sql.functions as FF
    from datafusion_geo_spark.operators.dedup import (ngram_jaccard_pairs,
                                                      with_perturbed_copies)
    base = _docs(spark, sf_dir).where(FF.col("doc_id") < 100)
    return ngram_jaccard_pairs(with_perturbed_copies(base))


def _q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection (probes = ids < 50,
    corpus augmented with exact copies)."""
    from datafusion_geo_spark.operators.similarity import embedding_near_dup
    return embedding_near_dup(_embs(spark, sf_dir), probe_max_id=50)


def _q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full approximate k-NN graph (operators.similarity.knn_join):
    every vector's top-5 neighbors among its 2 probed IVF lists — the
    shuffle-join all-pairs companion to the broadcast-probe ivf_topk.
    Runs the operator DEFAULT scorer (blocked-GEMM cogroup, ~6x the jvm
    fold — r4 verdict item 4: the named graph query is the shipped fast
    path); the jvm fold is gated against the SAME oracle as
    knn_join_jvm."""
    from datafusion_geo_spark.operators.similarity import knn_join
    return knn_join(_embs(spark, sf_dir), k=5)


def _q_knn_join_jvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same k-NN graph through the JVM HOF-fold scorer (exact fold
    arithmetic, conservative parity mode) — gated against the SAME
    oracle, demonstrating the two scorers are bit-identical on the
    fixture."""
    from datafusion_geo_spark.operators.similarity import knn_join
    return knn_join(_embs(spark, sf_dir), k=5, scorer="jvm")


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): k-means
    clusters the corpus (deterministic Lloyd replay, same machinery as
    ivf_trained_topk), then within-cluster cosine >= 0.95 to a lower-id
    member drops a vector. Corpus augmented with exact copies
    (vec_id + 1e6) so true semantic duplicates exist deterministically —
    every copy is dropped, every original kept."""
    import pyspark.sql.functions as FF
    from datafusion_geo_spark.operators.similarity import semantic_dedup
    from datafusion_geo_spark.sources.fixtures import embeddings_normed
    base = _embs(spark, sf_dir).select("vec_id", "embedding")
    copies = base.select((FF.col("vec_id") + 1_000_000).alias("vec_id"),
                         "embedding")
    # the SHARED fit (r4 verdict item 5): centroids are trained once on
    # the BASE corpus (same cached model ivf_trained_topk / ann_recall
    # use — the production shape) and injected, so this query pays
    # search-only cost; the oracle trains its k-means replay on the base
    # corpus too and assigns over the augmented one
    fitted = _fitted_centroids(embeddings_normed(spark, sf_dir), sf_dir)
    return semantic_dedup(base.unionAll(copies), n_centroids=8,
                          train_iters=2, min_cosine=0.95, centroids=fitted)


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for query vectors vec_id < 8 —
    JVM-side dot products, broadcast query set."""
    import pyspark.sql.functions as FF
    from datafusion_geo_spark.operators.similarity import cosine_topk
    from datafusion_geo_spark.sources.fixtures import embeddings_normed
    emb = embeddings_normed(spark, sf_dir)
    return cosine_topk(emb, emb.where(FF.col("vec_id") < 8), k=10,
                       prenormed=True)


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed ANN top-10 (scale path; deterministic
    data-derived planes so the oracle reproduces it exactly)."""
    from datafusion_geo_spark.operators.similarity import ann_bucketed_topk
    return ann_bucketed_topk(_embs(spark, sf_dir))


def _q_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-embedding retrieval (operators/similarity.py
    binary_quantize + hamming_topk, r11): 1-bit sign quantization (32
    dims per int64 word) and top-10 by exact integer Hamming distance
    — the 32x-compressed first stage of a retrieve-then-rerank funnel,
    completing the quantization family (int8 embed_quantize, PQ/ADC,
    and now binary). All-integer distances, so the oracle replays the
    pack + bit_count(xor) ranking bit-for-bit."""
    from datafusion_geo_spark.operators.similarity import hamming_topk
    return hamming_topk(_embs(spark, sf_dir))


def _q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (operators/text.py
    chunk_documents, r11): 32-token windows advancing by 24 (8-token
    overlap) — the RAG-indexing / long-document preprocessing step.
    Map-only tokenize + guarded-sequence explode + slice; the corpus
    never shuffles. Oracle replays the window arithmetic with a
    list_transform/unnest in the projection (DuckDB laterals cannot
    take column args)."""
    from datafusion_geo_spark.operators.text import chunk_documents
    return chunk_documents(_docs(spark, sf_dir), size=32, stride=24)


def _q_rouge_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus ROUGE-L (operators/evals.py rouge_l_corpus, r11) of the
    wer_eval perturbation — 'data'→'info' everywhere plus the
    drop-first-word edit — against the original text: the LCS-based
    summarization eval completing the overlap family (BLEU n-gram
    precision, chrF char F, WER edit distance, ROUGE-L in-order
    non-contiguous recall). LCS is a nested JVM integer DP
    (lcs_len_col — the unigram-Viterbi fold machinery), both sides
    truncated to the 32-token eval window; micro-averaged P/R and the
    F1 collapse 2S/(H+M) are exact 6-dp integer ratios. Oracle
    replays the DP as a recursive CTE using the prefix-max row form
    (new[j] = running max of max(old[j], old[j-1]+eq) — no intra-row
    sequencing needed)."""
    from datafusion_geo_spark.operators.evals import rouge_l_corpus
    d = _docs(spark, sf_dir).select(
        "doc_id", F.col("text").alias("ref"),
        F.regexp_replace(F.col("text"), r"\bdata\b", "info")
        .alias("_t2"))
    pairs = d.select(
        "doc_id", "ref",
        F.expr("substring(_t2, instr(_t2, ' ') + 1)").alias("cand"))
    return rouge_l_corpus(pairs, "cand", "ref")


def _q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit (operators/profile.py
    benford_audit, r11) of l_extendedprice in cents — the forensic
    data-quality screen (fabricated / truncated / unit-mangled
    numerics fail it — and so does TPC-H's bounded uniform price
    grid, loudly: the audit EXPECTS a huge chi2 here, which is
    exactly what makes it a pinnable fixture). Leading digit via the integer's decimal string (exact
    in every engine, no log10 edges); nine exact int64 counts from
    ONE aggregate; chi-square against the embedded 6-dp micro
    constants of log10(1+1/d) as nine explicit fixed-order terms —
    one fixed double expression, rounded once."""
    from datafusion_geo_spark.operators.profile import benford_audit
    from datafusion_geo_spark.sources.fixtures import load_table
    li = load_table(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long").alias("cents"))
    return benford_audit(li, "cents")


def _q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier audit (operators/profile.py mad_outliers, r11):
    per event_type, median / median-absolute-deviation of the event
    value in cents and the count beyond 3·MAD — the data-cleaning
    gate that survives the outliers it hunts (mean/std break exactly
    when needed). Two grouped-count histogram passes; median and MAD
    via the hist_quantiles integer rank test (100·cum >= 50·n — no
    division); the outlier count is summed from the SECOND histogram
    itself (no third corpus pass); with integer cents and integer k
    the entire pipeline is exact int64 — the only float is the final
    6-dp rate. Oracle replays both histograms and the rank tests."""
    from datafusion_geo_spark.operators.profile import mad_outliers
    from datafusion_geo_spark.sources.fixtures import load_events
    ev = load_events(spark, sf_dir).where(F.col("value").isNotNull())
    cents = ev.select(
        "event_type",
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
        .cast("long").alias("cents"))
    return mad_outliers(cents, "cents", ("event_type",))


def _q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix (operators/profile.py corr_matrix,
    r11) over four small-integer lineitem measures — quantity,
    linenumber, discount and tax in whole percent (floor(x*100+0.5):
    the 2-dp fixture decimals land exactly) — the EDA profile staple.
    ONE partial+final aggregate of the 15 exact int64 moments is the
    only corpus touch; the closed form per pair runs on the one-row
    result (variance products cast to double before multiplying, the
    pearson_corr discipline) and explodes to the 6 upper-triangle
    rows. Oracle: same moments, same closed form."""
    from datafusion_geo_spark.operators.profile import corr_matrix
    from datafusion_geo_spark.sources.fixtures import load_table
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.col("l_linenumber").cast("long").alias("lineno"),
        F.floor(F.col("l_discount") * F.lit(100.0) + F.lit(0.5))
        .cast("long").alias("disc_pct"),
        F.floor(F.col("l_tax") * F.lit(100.0) + F.lit(0.5))
        .cast("long").alias("tax_pct"))
    return corr_matrix(li, ["qty", "lineno", "disc_pct", "tax_pct"])


def _q_isotonic_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration by PAV (operators/evals.py
    isotonic_calibrate, r11) of the ece_eval confidence fixture —
    first embedding coordinate + 0.5, MILLI-quantized and clamped to
    [0, 1000] (bounded buckets, the quantized-score contract), label
    y = label < 5. The calibrator the reliability-table family was
    missing: mlfit shape (one exact-int histogram aggregate + bounded
    driver fold), and the PAV fold itself is integer-exact — the only
    comparison is pos_a*n_b > pos_b*n_a — so the block structure
    replays bit-for-bit; the oracle replays it as a recursive-CTE
    state machine (one push or one merge per step) and the single
    float is the house 6-dp ratio at the end."""
    from datafusion_geo_spark.operators.evals import isotonic_calibrate
    e1 = F.element_at(F.col("embedding"), 1).cast("double") + F.lit(0.5)
    cm = F.least(F.greatest(
        F.floor(e1 * F.lit(1e3) + F.lit(0.5)).cast("long"), F.lit(0)),
        F.lit(1000))
    scored = _embs(spark, sf_dir).select(
        cm.alias("conf_milli"),
        (F.col("label") < 5).cast("int").alias("y"))
    return isotonic_calibrate(scored, "conf_milli", "y")


def _q_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid resample + gap fill (operators/timeseries.py
    resample_locf, r11): per user, 6-hour slots spanning each user's
    own [first, last] event, per-slot observation counts, and the
    value carried forward across gaps (LOCF) — the sensor/metrics
    "resample + pad" step between event logs and anything windowed.
    Slot assignment is exact integer div on epoch micros; per-slot
    last is max(struct(us, event_id, value)) (total deterministic
    order); the carry is one per-key running window. Values pass
    through untouched, so the frame is bit-exact in any engine."""
    from datafusion_geo_spark.operators.timeseries import resample_locf
    from datafusion_geo_spark.sources.fixtures import load_events
    return resample_locf(load_events(spark, sf_dir), step_minutes=360)


def _q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact positional phrase search (operators/text.py
    phrase_search, r11): documents where 'table scan' occurs as
    CONSECUTIVE whitespace tokens, per-doc overlapping match counts,
    top-20 by (n_matches desc, doc_id). The match is positional
    arithmetic on on-demand postings — array_intersect of the shifted
    per-word position arrays from ONE posexplode + ONE grouped
    aggregate — so tokens never match inside longer words and any
    whitespace run separates tokens identically (the two ways a
    LIKE-scan lies). Oracle is the INDEPENDENT sliding-window
    formulation (list_filter over start positions), not a replay."""
    from datafusion_geo_spark.operators.text import phrase_search
    return phrase_search(_docs(spark, sf_dir), "table scan", k=20)


def _q_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language router (operators/nbayes.py,
    r11): train on the documents table by lang (counting-only fit —
    three grouped aggregates ARE the model, no iterations, no driver
    solve), resubstitution-predict every doc, and report the L x L
    confusion table (label, pred_label, n_docs). Scores are exact
    int64 (every ln() micro-int'ed before the sum — the evals.py
    discipline), argmax tie-breaks score desc then label asc, so the
    routing replays bit-for-bit. The synthetic fixture shares one
    vocabulary across langs, so the table measures the DETERMINISM of
    near-tie routing, not separability — exactly the regime where a
    float argmax would drift between engines."""
    from datafusion_geo_spark.operators.nbayes import nb_confusion
    return nb_confusion(_docs(spark, sf_dir))


def _q_hamming_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Hamming-radius near-dup join (operators/similarity.py
    hamming_join, r11): the corpus is the embeddings table plus a
    sign-perturbed copy of every vector (dims 1..vec_id%8 flipped,
    id + 1e6 — planted near-dup codes at hamming <= 8, the binary twin
    of the dedup corpus' perturbed copies), and the operator returns
    ALL pairs within radius 8 via pigeonhole banding (9 uneven bands
    over 64 dims; at least one band is bit-identical for any pair
    inside the radius, so the banded equi-join misses nothing and the
    exact distance filter keeps no false positive). EXACT semantics →
    the oracle is the brute-force all-pairs definition itself, not an
    algorithm replay."""
    from datafusion_geo_spark.operators.similarity import (as_double,
                                                           hamming_join)
    emb = _embs(spark, sf_dir)
    v = as_double(F.col("embedding"))
    flipped = F.zip_with(
        v, F.sequence(F.lit(1), F.lit(64)),
        lambda x, j: F.when(j <= F.col("vec_id") % 8, -x).otherwise(x))
    base = emb.select("vec_id", v.alias("embedding"))
    pert = emb.select((F.col("vec_id") + F.lit(1000000))
                      .alias("vec_id"), flipped.alias("embedding"))
    return hamming_join(base.unionByName(pert), radius=8)


def _q_hamming_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-retrieval quality eval (r11): per-query recall of the
    Hamming top-10 (hamming_topk) against the brute-force cosine
    ground truth (cosine_topk) — the number that decides whether the
    32x-compressed first stage needs a bigger shortlist. Same
    semi-join + exact 6-dp integer-ratio identity as ann_recall /
    pq_recall, so the three retrieval tiers (IVF, PQ, binary) publish
    comparable reports."""
    from datafusion_geo_spark.operators.text import _ratio6
    # r12: same arm materialization as ann_recall (bf referenced twice)
    bf = (_q_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
          .localCheckpoint(eager=True))
    ann = (_q_hamming_topk(spark, sf_dir).select("query_id",
                                                 "neighbor_id")
           .localCheckpoint(eager=True))
    hits = bf.join(ann, ["query_id", "neighbor_id"], "left_semi")
    n_true = bf.groupBy("query_id").agg(F.count(F.lit(1))
                                        .alias("n_true"))
    n_hit = hits.groupBy("query_id").agg(F.count(F.lit(1))
                                         .alias("n_hit"))
    joined = (n_true.join(n_hit, "query_id", "left")
              .withColumn("n_hit", F.coalesce(F.col("n_hit"),
                                              F.lit(0))))
    return joined.select(
        "query_id", "n_true", "n_hit",
        _ratio6(F.col("n_hit"), F.col("n_true")).alias("recall"))


def _q_binary_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieve-then-rerank funnel (operators/similarity.py
    binary_rerank_topk, r11): Hamming shortlist of 50 over the 1-bit
    codes, exact-cosine rerank to top-10 — the production shape where
    the corpus pass touches only packed integers and float math runs
    on Q x 50 fetched rows. Oracle composes the hamming replay CTE
    with the cosine rerank (same micro rounding as cosine_topk)."""
    from datafusion_geo_spark.operators.similarity import binary_rerank_topk
    return binary_rerank_topk(_embs(spark, sf_dir))


def _q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload column + mapInPandas batch
    feature extraction. Decode is environment-adaptive (PIL when
    importable, deterministic byte-stat stub otherwise); the fixture
    payloads are text, so every environment produces identical rows —
    decoded=FALSE, width=height=-1 sentinels."""
    from datafusion_geo_spark.operators.multimodal import (decode_features,
                                                           to_media)
    return decode_features(to_media(_docs(spark, sf_dir)))


def _q_streaming_extent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed incremental extent over the events stream (Structured
    Streaming, availableNow trigger). COMPLETE mode — the bounded-oracle
    runner that reports every window including still-open ones; the
    deployable unbounded path is streaming_extent_append below."""
    from datafusion_geo_spark.streaming import streaming_extent
    return streaming_extent(spark, sf_dir, output_mode="complete")


def _q_streaming_extent_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEPLOYABLE streaming extent: append mode, where each window
    is emitted exactly once when the watermark (max event time − 2h)
    passes its end and its state is evicted — bounded state on an
    unbounded stream. On the bounded fixture this equals batch SQL
    restricted to windows closed by the final watermark, which is what
    the oracle computes."""
    from datafusion_geo_spark.streaming import streaming_extent
    return streaming_extent(spark, sf_dir, output_mode="append")


def _q_events_hourly_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function surface (SURVEY.md §2: ABSENT in ref, Spark
    built-in): hourly event counts per type with previous-hour delta
    (lag) and busiest-hour rank (dense_rank) — runs as native
    WindowExec after a partial+final count aggregation."""
    from pyspark.sql import Window
    from datafusion_geo_spark.sources.fixtures import load_events
    ev = load_events(spark, sf_dir)
    hourly = (ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"),
                         "event_type")
              .agg(F.count("*").alias("n_events")))
    w_time = Window.partitionBy("event_type").orderBy("hour")
    w_rank = Window.partitionBy("event_type").orderBy(
        F.col("n_events").desc(), F.col("hour"))
    return hourly.select(
        "hour", "event_type", "n_events",
        (F.col("n_events") - F.lag("n_events", 1).over(w_time))
        .alias("delta_prev_hour"),
        F.dense_rank().over(w_rank).cast("long").alias("busy_rank"))


def _q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing (video-shaped 1→N explosion) over the
    media table: every 2nd 64-byte chunk becomes its own row via
    mapInPandas — no shuffle, frames co-partitioned with source items."""
    from datafusion_geo_spark.operators.multimodal import sample_frames, to_media
    from datafusion_geo_spark.sources.fixtures import load_table
    media = to_media(load_table(spark, sf_dir, "documents"))
    frames = sample_frames(media, frame_size=64, stride=2)
    return frames.select(
        "doc_id", "frame_idx",
        F.decode(F.col("frame"), "UTF-8").alias("frame_text"),
        "byte_offset")


def _q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing (operators.multimodal.resize_images): 1-in
    1-out mapInPandas transform producing a fixed 16×16-byte payload via
    deterministic stub subsampling (step = len//256) or repetition
    padding — the real decoder drops in with the same schema/batch
    shape. Output decoded to UTF-8 so the value-hash compares strings.

    ASCII-fixture assumption: the stub subsamples BYTES while the DuckDB
    oracle substr's CHARACTERS; these agree because the documents
    fixture is pure ASCII (1 byte = 1 char). Non-ASCII payloads would
    diverge (and byte-subsampled multibyte UTF-8 wouldn't decode) — see
    operators/multimodal.resize_images for why byte granularity is the
    honest stand-in for an opaque binary payload."""
    from datafusion_geo_spark.operators.multimodal import (resize_images,
                                                           to_media)
    r = resize_images(to_media(_docs(spark, sf_dir)))
    return r.select(
        "doc_id", F.decode(F.col("payload"), "UTF-8").alias("resized_text"),
        "width", "height")


def _q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: per-user sessionization via
    applyInPandasWithState (30-min inactivity gap). Bounded input +
    availableNow ⇒ equals batch sessionization, which the oracle computes
    with lag()/sum() window functions."""
    from datafusion_geo_spark.streaming.sessionize import streaming_sessions
    return streaming_sessions(spark, sf_dir)


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10 (inverted-file lists from deterministic
    centroids, nprobe=2): assignment by partial+final struct-max, probed
    lists equi-joined on the compact list id (operators.similarity.
    ivf_topk — the learned-partition scale path next to the LSH one)."""
    from datafusion_geo_spark.operators.similarity import ivf_topk
    from datafusion_geo_spark.sources.fixtures import embeddings_normed
    return ivf_topk(embeddings_normed(spark, sf_dir), prenormed=True)


def _q_hll_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set algebra (operators/sketch.py hll_set_ops): two
    overlapping user cohorts (user_id%10<6 vs >=3), register tables
    merged by grouped MAX for the union sketch — NO rescan of either
    side — and intersection by inclusion-exclusion on the three
    estimates. The mergeability property that makes sketches the
    right cross-dataset state at 100 TB."""
    import pyspark.sql.functions as FF
    from datafusion_geo_spark.operators.sketch import hll_set_ops
    from datafusion_geo_spark.sources.fixtures import load_table
    ev = (load_table(spark, sf_dir, "events")
          .where(FF.col("user_id").isNotNull()))
    a = (ev.where(FF.col("user_id") % 10 < 6)
         .select(FF.col("user_id").cast("string").alias("key")))
    b = (ev.where(FF.col("user_id") % 10 >= 3)
         .select(FF.col("user_id").cast("string").alias("key")))
    return hll_set_ops(a, b, "key")


def _q_streaming_ridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming model serving (streaming/score.py): ridge weights
    fitted OFFLINE on the batch corpus fold into the streaming plan as
    literals — scoring is a stateless projection, the per-language
    monitor a one-row-per-lang streaming groupBy. Bounded availableNow
    replay equals the batch aggregate; oracle composes the ridge
    elimination chain with the grouped serving scan."""
    from datafusion_geo_spark.streaming.score import streaming_ridge_monitor
    return streaming_ridge_monitor(spark, sf_dir)


def _q_heldout_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out unigram perplexity (operators/text.py
    heldout_perplexity): deterministic 90/10 hash split, add-1
    smoothed train-vocab LM, micro-int token logprobs, one-row eval —
    the corpus-drift metric tracked across dataset versions."""
    from datafusion_geo_spark.operators.text import heldout_perplexity
    return heldout_perplexity(_docs(spark, sf_dir))


def _q_bigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out INTERPOLATED-BIGRAM perplexity (operators/text.py
    bigram_heldout_perplexity): the word-order-aware drift metric next
    to heldout_ppl — Jelinek-Mercer λ=0.75 bigram + heldout_ppl's add-1
    unigram, same 90/10 md5 split, map-only bigram extraction (no lag
    window), micro-int pair logprobs. Oracle replays the full LM in
    SQL (lateral-unnest bigrams, the shared ln/exp literal chain)."""
    from datafusion_geo_spark.operators.text import bigram_heldout_perplexity
    return bigram_heldout_perplexity(_docs(spark, sf_dir))


def _q_mlm_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BERT-style MLM example construction (operators/objectives.py
    mlm_masking): md5-coin 15% position selection with the 80/10/10
    [MASK]/random/keep split; random replacements hash-index into the
    top-1024 common-token pool (vocab_encode's distributed sort+limit
    — no full-vocab single-task window). Byte-replayed by the
    oracle, labels as ordered pos:original pairs."""
    from datafusion_geo_spark.operators.objectives import mlm_masking
    return mlm_masking(_docs(spark, sf_dir))


def _q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2-style span-corruption examples (operators/objectives.py
    span_corruption): md5-coin span candidates merged into maximal
    islands (the dup_spans gaps-and-islands window), sentinel-masked
    ``inputs`` + sentinel-prefixed ``targets`` via ordered per-doc
    aggregation — the objective-construction stage right before the
    trainer, byte-for-byte replayed by the oracle."""
    from datafusion_geo_spark.operators.objectives import span_corruption
    return span_corruption(_docs(spark, sf_dir))


def _q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators/similarity.py hard_negatives):
    per anchor the top-5 most-cosine-similar vectors with a DIFFERENT
    label — the contrastive-training data op (DPR/SimCSE recipes).
    Exact baseline contract of cosine_topk with the label-inequality
    pruned inside the scoring stage; compose with IVF/IVFPQ candidate
    sets for the 100 TB path."""
    from datafusion_geo_spark.operators.similarity import hard_negatives
    from datafusion_geo_spark.sources.fixtures import load_table
    return hard_negatives(load_table(spark, sf_dir, "embeddings"))


def _q_logreg_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic-regression classifier fit by full-batch GD (operators/
    mlfit.py logreg_fit): label = (lang == 'en'), integer text features,
    3 unrolled iterations. Per iteration ONE corpus aggregate whose per-
    row sigmoid errors are micro-int'ed per feature before the sum
    (exact int64 gradients, fold-order free); weight updates replay
    driver-side with the r6-per-op schedule the oracle unrolls — the
    fastText-shaped quality-classifier recipe of LLM data pipelines."""
    import pyspark.sql.functions as FF
    from datafusion_geo_spark.operators.mlfit import logreg_weights_df
    return logreg_weights_df(_docs(spark, sf_dir),
                             FF.col("lang") == FF.lit("en"))


def _q_linreg_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed ridge regression by normal equations (operators/
    mlfit.py): ONE exact-int64 Gram/moment aggregate over the corpus
    (k(k+1)/2+k+1 sums, map-side combined), driver-side Gaussian
    elimination with 6-dp rounding after every arithmetic op — the
    distill-a-heuristic-into-a-linear-scorer fit every data pipeline
    runs. Output: the k fitted weights. Oracle replays the identical
    elimination schedule as an unrolled scalar CTE chain."""
    from datafusion_geo_spark.operators.mlfit import ridge_weights_df
    return ridge_weights_df(_docs(spark, sf_dir))


def _q_linreg_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model serving for the ridge fit: weights fold into codegen as
    LITERALS (no join at serving time — the model-shipping shape),
    yhat/residual as exact micro-ints per document."""
    from datafusion_geo_spark.operators.mlfit import ridge_score
    return ridge_score(_docs(spark, sf_dir))


def _q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (IVFADC) top-10: the billion-scale composition — coarse
    cosine k-means lists (fit SHARED with ivf_trained_topk/
    semantic_dedup via the process memo), product-quantized RESIDUALS
    (m=8 ints/vector), probe-pruned ADC serving with the exact
    inner-product decomposition dot(q,c)+dot(q,r). The serving scan
    reads 9 small ints per corpus vector and only nprobe/n_coarse of
    them score at all. Oracle: full composed SQL replay
    (_ivfpq_oracle)."""
    from datafusion_geo_spark.operators.similarity import ivfpq_search
    from datafusion_geo_spark.sources.fixtures import embeddings_normed
    vecs = embeddings_normed(spark, sf_dir)
    return ivfpq_search(vecs, cache_key=(sf_dir, "embeddings_normed"))


def _q_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10 with TRAINED centroids: 2 rounds of deterministic
    Lloyd's k-means (md5-ordered seeds, argmax-cosine assignment,
    6-dp-rounded per-dimension means — operators.similarity.
    kmeans_centroids), then the same broadcast-probe / list-equi-join
    search as ivf_topk. The oracle unrolls the identical two rounds in
    SQL, so the trained centroids — and therefore the search results —
    match bit-for-bit.

    Recall note: on the driver's embeddings fixture the vectors are
    isotropic random (no label geometry), and ivf_topk's stand-in
    centroids coincide with the query ids — the optimal IVF for those
    queries by construction — so trained recall is LOWER here (0.51 vs
    0.93). On data with real cluster structure training wins by a wide
    margin (tests/test_asof_ivf.py::
    test_ivf_trained_beats_standin_on_clustered_data)."""
    from datafusion_geo_spark.operators.similarity import ivf_topk
    from datafusion_geo_spark.sources.fixtures import embeddings_normed
    vecs = embeddings_normed(spark, sf_dir)
    return ivf_topk(vecs, prenormed=True,
                    centroids=_fitted_centroids(vecs, sf_dir))


def _q_cluster_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality report (operators/similarity.py
    cluster_cohesion): per trained-k-means cluster, member count and
    micro-int sums of each member's cosine to its own vs second-nearest
    centroid — the separation audit for tuning n_centroids in
    IVF/SemDeDup. Fit SHARED with ivf_trained_topk via the process
    memo; scoring map-only; k rows out. Oracle replays the fit
    (_kmeans_ctes) and the same ranked scoring."""
    from datafusion_geo_spark.operators.similarity import cluster_cohesion
    from datafusion_geo_spark.sources.fixtures import embeddings_normed
    vecs = embeddings_normed(spark, sf_dir)
    return cluster_cohesion(vecs, _fitted_centroids(vecs, sf_dir))


def _q_mauve_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAUVE (operators/similarity.py mauve_eval, Pillutla et al.
    2021): divergence-frontier AUC between P = even-vec_id embeddings
    and Q = odd-vec_id embeddings with a deterministic drift (+0.75 on
    dimension 1 of the raw 64-dim vector before renormalization) — the
    quality+diversity distribution eval a generation pipeline monitors
    where one-directional KL sees only one failure mode. Quantizer =
    the session's SHARED k-means fit (ivf_trained/semantic_dedup memo,
    zero extra fit jobs); cluster histograms exact int64; per-(cluster,
    λ) KL terms micro-rounded then summed; the doubled 1e12-scaled AUC
    is an exact int64 trapezoid sum (the only doubles are the ln/exp
    libm-parity chain and the final divide). Oracle replays the fit
    (_kmeans_ctes) and the identical frontier arithmetic."""
    from datafusion_geo_spark.operators.similarity import (mauve_eval,
                                                           prenorm)
    from datafusion_geo_spark.sources.fixtures import (_spread,
                                                       embeddings_normed,
                                                       load_table)
    vecs = embeddings_normed(spark, sf_dir)
    p = vecs.where(F.col("vec_id") % 2 == 0)
    raw = _spread(load_table(spark, sf_dir, "embeddings")) \
        .where(F.col("vec_id") % 2 == 1)
    v64 = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    pert = F.concat(F.array(F.element_at(v64, 1) + F.lit(0.75)),
                    F.slice(v64, 2, 63))
    q = prenorm(raw.withColumn("embedding", pert))
    return mauve_eval(p, q, _fitted_centroids(vecs, sf_dir))


def _q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-10 by inner product: subspace L2
    Lloyd codebooks (all subspaces trained in shared jobs), m=8 int
    codes per vector (32x storage cut over 64 float dims), scores =
    micro-int table lookups summed — the PQ memory-bound scale path
    next to IVF's compute path. Oracle: full SQL replay
    (_pq_oracle)."""
    from datafusion_geo_spark.operators.similarity import pq_search
    from datafusion_geo_spark.sources.fixtures import embeddings_normed
    return pq_search(embeddings_normed(spark, sf_dir),
                     cache_key=(sf_dir, "pq"))


def _q_streaming_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming first-seen dedup: first event per (user_id, event_type)
    by (ts, event_id) plus duplicate counts, via a streaming struct-MIN
    groupBy aggregate (deterministic, unlike dropDuplicates)."""
    from datafusion_geo_spark.streaming.dedup import streaming_first_seen
    return streaming_first_seen(spark, sf_dir)


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed as-of join (union-and-sweep, operators.asof_join):
    each event picks up the newest order of its user with order
    day-of-month <= the event's day-of-month — a point-in-time feature
    lookup with one shuffle+sort and no range-pair explosion. The right
    side is pre-aggregated to one row per (user, day) so the match is
    deterministic; DuckDB verifies with its native ASOF LEFT JOIN."""
    from datafusion_geo_spark.operators.asof_join import asof_join
    from datafusion_geo_spark.sources.fixtures import load_events, load_table
    ev = load_events(spark, sf_dir).select(
        "event_id", "user_id",
        F.dayofmonth(F.col("ts")).cast("long").alias("ed"))
    orders = load_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 150).alias("user_id"),
        F.dayofmonth(F.col("o_orderdate")).cast("long").alias("od"),
        "o_orderkey")
    o2 = orders.groupBy("user_id", "od").agg(
        F.max("o_orderkey").alias("asof_orderkey"))
    return asof_join(ev, o2, on="user_id", left_time="ed", right_time="od",
                     right_cols=["asof_orderkey"]) \
        .select("event_id", "user_id", "ed", "asof_orderkey")


def _q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each event picks up the EARLIEST order of its
    user with order day >= the event's day — the "next scheduled
    maintenance / next price change" lookup. Exercises asof_join's
    direction='forward' sign-flip path (the sweep runs on the negated
    axis); the DuckDB oracle negates both day columns so its
    backward-only native ASOF JOIN computes the same match."""
    from datafusion_geo_spark.operators.asof_join import asof_join
    from datafusion_geo_spark.sources.fixtures import load_events, load_table
    ev = load_events(spark, sf_dir).select(
        "event_id", "user_id",
        F.dayofmonth(F.col("ts")).cast("long").alias("ed"))
    orders = load_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 150).alias("user_id"),
        F.dayofmonth(F.col("o_orderdate")).cast("long").alias("od"),
        "o_orderkey")
    o2 = orders.groupBy("user_id", "od").agg(
        F.max("o_orderkey").alias("next_orderkey"))
    return asof_join(ev, o2, on="user_id", left_time="ed", right_time="od",
                     right_cols=["next_orderkey"], direction="forward") \
        .select("event_id", "user_id", "ed", "next_orderkey")


def _q_range_tag_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized range join (operators.range_join): tag each event with
    every nation interval [20n, 20n + 5r + 10] containing its value,
    aggregated per interval. The equi-join-on-bucket shape is what
    scales (and what AQE skew handling applies to) — a raw BETWEEN
    theta-join would be a nested-loop product. Money math on cents
    (int64) so the hash compare is order-independent."""
    from datafusion_geo_spark.operators.range_join import range_join
    from datafusion_geo_spark.sources.fixtures import load_events, load_table
    ev = load_events(spark, sf_dir).select(
        "event_id", "value",
        F.round(F.col("value") * 100).cast("long").alias("cents"))
    iv = load_table(spark, sf_dir, "nation").select(
        "n_nationkey",
        (F.col("n_nationkey") * 20.0).alias("lo"),
        (F.col("n_nationkey") * 20.0 + F.col("n_regionkey") * 5.0 + 10.0)
        .alias("hi"))
    j = range_join(ev, iv, point_col="value", lo_col="lo", hi_col="hi",
                   bucket=20.0)
    return (j.groupBy("n_nationkey")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("cents").alias("sum_cents")))


def _q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test split (operators.sampling): bucket
    and label are pure md5-based expressions of doc_id — reproducible
    across engines/runs, evaluated map-side in the scan stage."""
    from datafusion_geo_spark.operators.sampling import hash_bucket, with_split
    from datafusion_geo_spark.sources.fixtures import load_table
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return (with_split(docs, "doc_id")
            .withColumn("bucket", hash_bucket(F.col("doc_id")))
            .select("doc_id", "bucket", "split"))


def _q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule document filter (operators.text.gopher_quality, Rae
    et al. 2021 §A1.1): word-count bounds, mean-word-length band,
    alphabetic-word ratio, distinct-stopword presence — all exact
    scaled-integer built-ins, map-side only."""
    from datafusion_geo_spark.operators.text import gopher_quality
    return gopher_quality(_docs(spark, sf_dir))


def _q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repetition metrics (operators.text.repetition_stats,
    the Gopher repetition-removal family): duplicate word / bigram /
    trigram fractions + keep verdict. Map-side built-ins only."""
    from datafusion_geo_spark.operators.text import repetition_stats
    return repetition_stats(_docs(spark, sf_dir))


def _q_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking (operators.text.pii_mask) over documents with
    deterministic synthetic PII appended (the fixture itself carries
    none): per-doc email + intl-phone, masked with typed placeholders,
    match counts as audit columns. Regex syntax restricted to the
    Java-regex ∩ RE2 subset so the oracle evaluates identically."""
    from datafusion_geo_spark.operators.text import pii_mask
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example or +1 (555) 010-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"))
    return pii_mask(docs)


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (operators.sampling.
    stratified_sample): exactly 10 docs per language, chosen by md5
    order of doc_id — reproducible across engines, lowered by Spark to
    a pre-shuffle WindowGroupLimit (no full per-stratum sort)."""
    from datafusion_geo_spark.operators.sampling import stratified_sample
    from datafusion_geo_spark.sources.fixtures import load_table
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(docs, "lang", "doc_id", 10)


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (operators.sampling.
    pack_sequences): documents laid out on 16 hashed streams in doc_id
    order, sliced every 512 tokens — each doc gets (bucket, seq_id,
    seq_offset). One window shuffle; assignment is a pure function of
    (doc_id, token count), which the oracle mirrors with the same
    SUM() OVER window."""
    from datafusion_geo_spark.operators.sampling import pack_sequences
    from datafusion_geo_spark.operators.text import words_col
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(words_col(F.col("text"))).cast("long").alias("n_tokens"))
    return (pack_sequences(docs, "n_tokens", budget=512, buckets=16)
            .select("doc_id", "bucket", "seq_id", "seq_offset", "n_tokens"))


def _q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine ANN evaluation: per-query recall of trained-IVF top-10
    (ivf_trained_topk) against the brute-force ground truth
    (cosine_topk) — the report an embedding pipeline publishes when
    tuning nlist/nprobe. One semi-join on (query, neighbor) + two tiny
    aggregates; recall in the repo's exact scaled-integer rounding so
    the oracle (which replays both sides from their own SQL) hashes
    identically."""
    from datafusion_geo_spark.operators.text import _ratio6
    # r12: materialize both top-k arms once — the brute-force arm is
    # referenced twice below (hits + n_true), and a lazy frame re-runs
    # its whole pipeline per reference (the jaccard/lsh persist
    # discipline; these are k x queries ~ 80-row frames)
    bf = (_q_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
          .localCheckpoint(eager=True))
    ann = (_q_ivf_trained_topk(spark, sf_dir)
           .select("query_id", "neighbor_id").localCheckpoint(eager=True))
    hits = bf.join(ann, ["query_id", "neighbor_id"], "left_semi")
    n_true = bf.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_true"))
    n_hit = hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit"))
    joined = (n_true.join(n_hit, "query_id", "left")
              .withColumn("n_hit", F.coalesce(F.col("n_hit"), F.lit(0))))
    return joined.select(
        "query_id", "n_true", "n_hit",
        _ratio6(F.col("n_hit"), F.col("n_true")).alias("recall"))


def _q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ evaluation twin of ann_recall: per-query recall of the
    ADC-scored pq_topk against brute-force cosine ground truth — the
    report that justifies PQ's 32x memory cut. Same semi-join + two
    tiny aggregates, same scaled-integer recall rounding, oracle
    composes both sides' own SQL replays."""
    from datafusion_geo_spark.operators.text import _ratio6
    # r12: same arm materialization as ann_recall (bf referenced twice)
    bf = (_q_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
          .localCheckpoint(eager=True))
    ann = (_q_pq_topk(spark, sf_dir).select("query_id", "neighbor_id")
           .localCheckpoint(eager=True))
    hits = bf.join(ann, ["query_id", "neighbor_id"], "left_semi")
    n_true = bf.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_true"))
    n_hit = hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit"))
    joined = (n_true.join(n_hit, "query_id", "left")
              .withColumn("n_hit", F.coalesce(F.col("n_hit"), F.lit(0))))
    return joined.select(
        "query_id", "n_true", "n_hit",
        _ratio6(F.col("n_hit"), F.col("n_true")).alias("recall"))


def _q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-version snapshot diff (operators/dedup.py corpus_diff):
    old = docs with doc_id % 11 != 0; new = docs with doc_id % 13 != 0,
    where doc_id % 7 == 0 texts carry a simulated edit. Both sides
    collapse to (id, h64(text)) before a full-outer join on the id —
    the audit shuffles two narrow hash columns, never the text."""
    from datafusion_geo_spark.operators.dedup import corpus_diff
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    old = docs.where(F.col("doc_id") % 11 != 0)
    new = (docs.where(F.col("doc_id") % 13 != 0)
           .withColumn("text",
                       F.when(F.col("doc_id") % 7 == 0,
                              F.concat(F.col("text"), F.lit(" [v2]")))
                       .otherwise(F.col("text"))))
    return corpus_diff(old, new)


def _q_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental hypertable-style rollup (operators.rollup): events
    applied as TWO hour-sliced batches through dynamic-partition-
    overwrite upserts, then the maintained table is read back — the
    continuous-aggregate maintenance path, whose final state must equal
    the one-shot GROUP BY the oracle runs. Exact cent-sums (int64) keep
    the value hash order-independent."""
    import os
    import shutil
    from datafusion_geo_spark.operators.rollup import (apply_rollup_batch,
                                                       hour_col, read_rollup)
    from datafusion_geo_spark.sources.fixtures import load_events
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".cache", "rollup", tag)
    # fresh dataset per run: dynamic overwrite only replaces the hours a
    # batch carries, so a stale run against a different fixture would
    # otherwise leave orphan hour partitions the oracle doesn't have
    shutil.rmtree(path, ignore_errors=True)
    ev = load_events(spark, sf_dir)
    hour = hour_col("ts")  # slice with THE bucketing formula (rollup.py)
    even = (hour % 2) == 0
    apply_rollup_batch(ev.where(even), path)
    # complement via null-safe negation: NULL-ts rows (hour NULL) and
    # negative odd hours (Spark % keeps the dividend sign: -1) must land
    # in exactly one batch, or they'd be silently dropped vs the oracle
    apply_rollup_batch(ev.where(~F.coalesce(even, F.lit(False))), path)
    return read_rollup(spark, path).select(
        "hour", "event_type", "n_events", "n_users", "sum_cents")


def _q_streaming_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curate-as-you-ingest (streaming.curate): documents stream with
    injected exact copies → stateless Gopher gate BEFORE any keyed
    state → first-seen-by-content-hash struct-MIN aggregate (the one
    streaming aggregation allowed). Bounded availableNow replay equals
    the batch query the oracle runs."""
    from datafusion_geo_spark.streaming.curate import streaming_curation
    return streaming_curation(spark, sf_dir)


def _q_streaming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (streaming.join): views attributed
    to the click they preceded within 1 hour — dual-watermarked,
    time-range-bounded state; bounded availableNow replay equals the
    batch join the oracle runs."""
    from datafusion_geo_spark.streaming.join import streaming_click_attribution
    return streaming_click_attribution(spark, sf_dir)


def _q_streaming_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming continuous aggregate (streaming.rollup): watermarked
    1-hour windowed totals upserted per updated (hour, event_type) key
    via foreachBatch dynamic partition overwrite — the no-batch-contract
    streaming twin of hourly_rollup. Mergeable stats only (the module
    docstring explains the n_users/HLL omission)."""
    import os
    from datafusion_geo_spark.streaming.rollup import streaming_hourly_rollup
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".cache", "stream_rollup", tag)
    return streaming_hourly_rollup(spark, sf_dir, path)


def _q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary report: top-50 words by exact document-wide
    frequency (ties broken by word) with the count and the
    document-frequency — the table a tokenizer-training or
    stopword-curation step starts from. Classic word-count shape:
    explode → partial+final hash aggregate on the word, then a global
    top-k (TakeOrdered — never a full sort at scale)."""
    from datafusion_geo_spark.operators.text import words_col
    docs = _docs(spark, sf_dir)
    w = docs.select("doc_id",
                    F.explode(words_col(F.col("text"))).alias("word"))
    return (w.groupBy("word")
            .agg(F.count(F.lit(1)).alias("n_occurrences"),
                 F.countDistinct("doc_id").alias("n_docs"))
            .orderBy(F.col("n_occurrences").desc(), F.col("word").asc())
            .limit(50))


def _q_count_min_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CountMin heavy hitters (operators/sketch.py count_min_topk):
    top-20 words by sketch-estimated count over the documents corpus,
    depth 4 x width 1024. The sketch-build shuffle carries at most
    depth*width rows per map task (partial hash agg) no matter the
    corpus size, and estimation joins the broadcast 4k-row sketch —
    the bounded-state substitute for the exact vocab_topk shuffle.
    Estimates over-count on collisions; the oracle replays the same
    md5-seeded collisions, so rows match exactly."""
    from datafusion_geo_spark.operators.sketch import count_min_topk
    from datafusion_geo_spark.operators.text import words_col
    docs = _docs(spark, sf_dir)
    toks = docs.select(F.explode(words_col(F.col("text"))).alias("tok"))
    return count_min_topk(toks, "tok", 20, depth=4, width=1024)


def _q_bloom_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter incremental dedup (operators/sketch.py
    bloom_filter_new): docs with doc_id%3==0 arrive as a batch against
    the corpus of the rest (key = md5(text)); rows whose 3 bloom
    positions (m=65536) are all set drop as probable dups. The corpus
    collapses ONCE into <= m set positions (distinct on a bounded key
    space, map-side combined); each batch then only broadcast-joins
    that fixed table — no per-batch corpus shuffle, the bounded-state
    trade vs incremental_exact_dedup. False positives are a pure
    function of md5, replayed identically by the oracle."""
    from datafusion_geo_spark.operators.sketch import bloom_filter_new
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.md5(F.col("text")).alias("key"))
    corpus = docs.where(F.col("doc_id") % 3 != 0)
    batch = docs.where(F.col("doc_id") % 3 == 0)
    return bloom_filter_new(corpus, batch, "key",
                            m=65536, k=3).select("doc_id")


def _q_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register table (operators/sketch.py hll_registers)
    over events.user_id, b=8: (register, rho) via one grouped MAX over
    256 groups — map-side combined, and the table IS the mergeable
    sketch state (union of corpora = same MAX over both tables), so a
    1000-executor rollup ships 256 ints per merge. Registers are
    integer-exact (minimal-binary-length rho in both engines); the
    float cardinality estimate is left to the consumer."""
    from datafusion_geo_spark.operators.sketch import hll_registers
    from datafusion_geo_spark.sources.fixtures import load_table
    ev = (load_table(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull())
          .select(F.col("user_id").cast("string").alias("key")))
    return hll_registers(ev, "key", b=8)


def _q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (operators/bpe.py bpe_train):
    8 merge rounds over the documents word dict. ONE corpus-sized pass
    (the word count); each round is a bigram shuffle over the
    Zipf-bounded dict + a top-1 collect (the Lloyd-style bounded sync)
    + a map-side re-tokenization fold. Ties break (count desc, pair
    asc) so the merge table is engine-portable; the oracle replays all
    8 rounds as an unrolled CTE chain with the same list_reduce fold.
    Fit SHARED with bpe_encode/tokenizer_fertility via the process
    memo (bpe._MERGE_CACHE; a hit is bit-identical to a refit)."""
    from datafusion_geo_spark.operators.bpe import bpe_train_cached
    rows = bpe_train_cached(_docs(spark, sf_dir), "text", rounds=8,
                            cache_key=(sf_dir, "documents"))
    return spark.createDataFrame(
        rows, "merge_rank int, left_tok string, right_tok string, "
              "merged string, pair_count long")


def _q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization (operators/bpe.py bpe_apply): train 8 merges
    corpus-wide, collect the 8-row merge table (bounded), then encode
    docs with doc_id < 200 as pure map-side fold expressions — the
    'apply the shipped tokenizer' pass, no shuffle beyond training.
    COALESCE keeps empty-text docs as ('', 0) in both engines. Fit
    SHARED with bpe_merges/tokenizer_fertility via the process memo."""
    from datafusion_geo_spark.operators.bpe import bpe_apply, \
        bpe_train_cached
    docs = _docs(spark, sf_dir)
    triples = [(l, r, m) for _, l, r, m, _ in
               bpe_train_cached(docs, "text", rounds=8,
                                cache_key=(sf_dir, "documents"))]
    enc = bpe_apply(docs.where(F.col("doc_id") < 200), "text", triples)
    flat = F.flatten(F.col("bpe_tokens"))
    return enc.select("doc_id",
                      F.array_join(flat, " ").alias("toks_str"),
                      F.size(flat).alias("n_tokens"))


def _q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (operators/sampling.py dsir_select, Xie et
    al. 2023): top-50 documents by hashed-ngram importance weight
    toward the English subset as the target domain — the principled
    domain-matching selector next to the heuristic (gopher_quality)
    and geometric (semantic_dedup) filters. Per-bucket Laplace
    log-ratios collapse to ONE ln of an exact-int64 rational
    (micro-rounded); document log-weights are exact int64 sums over a
    broadcast 64-row table; the Gumbel-top-k race uses the exact
    dyadic u = (h+1)/2^32 (the wrs_topn clock discipline), so the
    oracle replays the selection bit-for-bit."""
    from datafusion_geo_spark.operators.sampling import dsir_select
    return dsir_select(_docs(spark, sf_dir),
                       F.col("lang") == F.lit("en"), k=50)


_UNIGRAM_PARAMS = dict(rounds=2, seed_multi_cap=128, vocab_multi_cap=64)


def _q_unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training (operators/unigram.py — the
    SentencePiece algorithm family, Kudo 2018; the second major
    subword trainer next to bpe_merges): substring seed vocabulary
    (all 1..4-grams of the Zipf-bounded word dict, top-128 multi-char
    + every char), then 2 deterministic hard-EM rounds — integer
    micro-logprob Viterbi re-segmentation (a pure JVM F.aggregate
    fold; exact int64 score sums, longest-piece tie rule),
    frequency-weighted recount, top-64 multi-char prune, +1 char
    floor, rescore. Output: the final scored vocabulary
    (piece, cnt, score_micro). Oracle replays the identical chain with
    recursive-CTE DPs carrying the same best-score lists."""
    from datafusion_geo_spark.operators.unigram import unigram_vocab_frame
    return unigram_vocab_frame(_docs(spark, sf_dir),
                               cache_key=(sf_dir, "documents"),
                               **_UNIGRAM_PARAMS)


def _q_unigram_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language fertility of the trained unigram-LM tokenizer
    (operators/unigram.py unigram_encode_stats): every DISTINCT dict
    word Viterbi-segmented once with the final vocabulary (model
    SHARED with unigram_vocab via the process memo), token counts
    joined back onto the corpus words (broadcast — the dict is
    Zipf-small), exact int64 word/token/char totals and the exact
    6-dp scaled-integer fertility. The unigram twin of the BPE
    tokenizer_fertility report."""
    from datafusion_geo_spark.operators.unigram import (
        unigram_encode_stats, unigram_train)
    docs = _docs(spark, sf_dir)
    fitted = unigram_train(docs, cache_key=(sf_dir, "documents"),
                           **_UNIGRAM_PARAMS)
    return unigram_encode_stats(docs, fitted,
                                cache_key=(sf_dir, "documents"))


def _q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-quality selection table (operators/bpe.py
    tokenizer_stats): per language, fertility (BPE tokens per word) and
    byte coverage (share of word bytes inside multi-char merges) of the
    8-merge tokenizer trained corpus-wide — the standard table a
    tokenizer choice is judged by. Dictionary-encoded: the merge folds
    run once per distinct word; the corpus pass is one (lang, word)
    count; ratios are exact-int64 half-up micros. Oracle replays the
    training chain (_bpe_chain thru r8) and the same integer
    identities. Fit SHARED with bpe_merges/bpe_encode via the process
    memo."""
    from datafusion_geo_spark.operators.bpe import bpe_train_cached, \
        tokenizer_stats
    docs = _docs(spark, sf_dir)
    triples = [(l, r, m) for _, l, r, m, _ in
               bpe_train_cached(docs, "text", rounds=8,
                                cache_key=(sf_dir, "documents"))]
    return tokenizer_stats(docs, triples)


def _q_tokenizer_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-trainer tokenizer selection table: per language, the
    8-merge BPE fertility/coverage (tokenizer_fertility) next to the
    2-round unigram-LM fertility (unigram_fertility) and their exact
    micro-int difference — the side-by-side a tokenizer choice is
    actually made from, with BOTH trainers' fits shared through the
    process memos (zero extra training jobs). Note the denominators
    differ by design: the unigram dict caps words at 24 chars (its
    documented training filter) while BPE counts all words — the
    comparison column is fertility, not word totals. Oracle: the two
    full replay chains joined as derived tables."""
    b = _q_tokenizer_fertility(spark, sf_dir).select(
        "lang",
        F.col("fertility_micro").alias("bpe_fertility_micro"),
        F.col("coverage_micro").alias("bpe_coverage_micro"))
    u = _q_unigram_fertility(spark, sf_dir).select("lang", "fertility")
    j = b.join(u, "lang")
    uni_fm = F.floor(F.col("fertility") * F.lit(1e6) + F.lit(0.5)) \
        .cast("long")
    return j.select(
        "lang", "bpe_fertility_micro", "bpe_coverage_micro",
        uni_fm.alias("uni_fertility_micro"),
        (F.col("bpe_fertility_micro") - uni_fm).alias("delta_micro"))


def _q_geoparquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard-GeoParquet sink+source round trip (sources/geoio.py
    write_geoparquet_std / read_geoparquet_std, r11): write the
    customer points STAMPED EPSG:32118 with a 1.1 covering bbox
    column, read back through footer auto-discovery, and emit
    (c_custkey, wkt_out, srid). What the gate pins: ISO-WKB value
    round-trip (wkt bit-equal), the SRID carried ONLY by metadata —
    stripped to ISO WKB on write, PROJJSON auto-emitted from the CRS
    registry (the stamp is a tag round-trip, no reprojection), re-
    stamped from the footer on read — and the covering column riding
    along without disturbing the data columns. Oracle replays the
    fixture arithmetic (x = key%360-180 integral -> bare int in WKT;
    y = nation*3-37.5 always .5 -> one decimal)."""
    import os
    from datafusion_geo_spark.functions import (st_astext, st_setsrid,
                                                st_srid)
    from datafusion_geo_spark.sources.fixtures import points_customer
    from datafusion_geo_spark.sources.geoio import (read_geoparquet_std,
                                                    write_geoparquet_std)
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".cache", "geoparquet_std", tag)
    src = (points_customer(spark, sf_dir)
           .select("c_custkey",
                   st_setsrid(F.col("geom"), 32118).alias("geom")))
    write_geoparquet_std(src, path, covering=True)
    back = read_geoparquet_std(spark, path)
    return back.select("c_custkey",
                       st_astext(F.col("geom")).alias("wkt_out"),
                       st_srid(F.col("geom")).alias("srid"))


def _q_shapefile_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ESRI-Shapefile sink+source round trip (sources/shapefile.py
    write_shapefile / read_shapefile, r11): the customer points plus a
    dBASE-typed attribute row (c_custkey N18,0 / y N24,6 /
    c_mktsegment C64) written as one part trio per partition and read
    back through .shx-index splits. What the gate pins: the .shp
    Point/Null-shape value round trip (wkt bit-equal — coordinates
    pass through IEEE doubles untouched), the dBASE NUMERIC text
    round trip (integers exact; the double column is y = n*3-37.5,
    always .5, exact at the sink's fixed 6-decimal contract), and the
    C-field pass-through. NULL geometries (custkey%7==0) become Null
    shape records and must come back as NULL, not be dropped. Oracle
    replays the fixture arithmetic (x integral -> bare int in WKT; y
    always .5 -> one decimal)."""
    import os
    from datafusion_geo_spark.functions import st_astext
    from datafusion_geo_spark.sources.fixtures import points_customer
    from datafusion_geo_spark.sources.shapefile import (read_shapefile,
                                                        write_shapefile)
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".cache", "shapefile", tag)
    src = points_customer(spark, sf_dir).select(
        "c_custkey", F.col("y").alias("yval"),
        F.col("c_mktsegment").alias("mktseg"),  # dBASE 10-byte names
        "geom")
    write_shapefile(src, path)
    back = read_shapefile(spark, path)
    return back.select("c_custkey", "yval", "mktseg",
                       st_astext(F.col("geom")).alias("wkt_out"))


def _q_sp_bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipped-tokenizer round trip, BPE (operators/sp_export.py, r10
    verdict item 6): export the 8-merge fit as merges.txt (the GPT-2 /
    HuggingFace interchange format, rank order = file order), parse
    the FILE back, and produce the tokenizer_stats selection table
    with the re-read merge list. The merge list that reaches the
    encoder passed through bytes on disk, so the gate pins the whole
    export -> parse -> encode loop; oracle = the tokenizer_fertility
    replay chain (identical output contract). Fit shared via the
    process memo; artifact is rounds-sized, written driver-side."""
    import os
    from datafusion_geo_spark.operators.bpe import (bpe_train_cached,
                                                    tokenizer_stats)
    from datafusion_geo_spark.operators.sp_export import (
        read_bpe_merges, write_bpe_merges)
    docs = _docs(spark, sf_dir)
    triples = [(l, r, m) for _, l, r, m, _ in
               bpe_train_cached(docs, "text", rounds=8,
                                cache_key=(sf_dir, "documents"))]
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".cache", "sp_export", tag, "merges.txt")
    write_bpe_merges(triples, path)
    return tokenizer_stats(docs, read_bpe_merges(path))


def _q_sp_unigram_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipped-tokenizer round trip, unigram LM (operators/
    sp_export.py): export the fitted vocabulary as a SentencePiece
    text .vocab (piece<TAB>score, score = fitted ln-prob at 6 fixed
    decimals = exact micro precision), parse the FILE back, rebuild
    the (piece, score_micro) model, and Viterbi-encode the corpus with
    it — unigram_encode_stats output contract, so the oracle is the
    unigram_fertility replay. A single micro lost in the text round
    trip would flip a Viterbi tie and fail the hash gate."""
    import os
    from datafusion_geo_spark.operators.sp_export import (
        read_sp_vocab, sp_vocab_unigram, unigram_fitted_from_vocab,
        write_sp_vocab)
    from datafusion_geo_spark.operators.unigram import (
        unigram_encode_stats, unigram_train)
    docs = _docs(spark, sf_dir)
    fitted = unigram_train(docs, cache_key=(sf_dir, "documents"),
                           **_UNIGRAM_PARAMS)
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".cache", "sp_export", tag, "unigram.vocab")
    write_sp_vocab(sp_vocab_unigram(fitted), path)
    fitted2 = unigram_fitted_from_vocab(read_sp_vocab(path))
    return unigram_encode_stats(docs, fitted2,
                                cache_key=(sf_dir, "documents"))


def _q_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform corpus sample (operators/sampling.py
    reservoir_sample): the 64 documents with the smallest
    (md5(doc_id), doc_id) coin — the distributed, engine-replayable
    reservoir draw, executed as ONE TakeOrdered (per-partition top-k +
    k-row merge; no corpus sort or shuffle). Completes the sampling
    family next to the weighted (wrs_topn) and per-stratum
    (stratified_sample) draws."""
    from datafusion_geo_spark.operators.sampling import reservoir_sample
    from datafusion_geo_spark.sources.fixtures import load_table
    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "lang", "source")
    return reservoir_sample(docs, "doc_id", k=64)


def _q_bernoulli_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional Bernoulli sample (operators/sampling.py
    deterministic_sample): keep the ~20% of documents whose md5 bucket
    falls under 2000/10000 — membership a pure map-side function of
    doc_id (same sample on any engine/partitioning/day; same-key joins
    across datasets stay aligned, unlike df.sample's seeded RNG)."""
    from datafusion_geo_spark.operators.sampling import deterministic_sample
    from datafusion_geo_spark.sources.fixtures import load_table
    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "lang", "source")
    return deterministic_sample(docs, "doc_id", 0.2)


def _q_tokenizer_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-selection sweep: the tokenizer_fertility table at 2, 4
    and 8 merges — the fertility/coverage-vs-vocab-size elbow a merge
    budget is chosen from. BPE merge lists are PREFIX-NESTED (the
    n-round tokenizer is the first n rows of the 8-round fit), so the
    sweep costs ZERO extra training (one shared cached fit) and ONE
    corpus pass (operators/bpe.py tokenizer_selection_stats: the
    (lang, word) dict is materialized once, each variant folds over
    it). Oracle reads the same nested states — the training chain's
    intermediate r2/r4/r8 dict tables."""
    from datafusion_geo_spark.operators.bpe import bpe_train_cached, \
        tokenizer_selection_stats
    docs = _docs(spark, sf_dir)
    triples = [(l, r, m) for _, l, r, m, _ in
               bpe_train_cached(docs, "text", rounds=8,
                                cache_key=(sf_dir, "documents"))]
    return tokenizer_selection_stats(docs, triples, variants=(2, 4, 8))


def _q_kn_bigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram perplexity (operators/text.py
    kn_bigram_perplexity): the Chen-&-Goodman-best n-gram smoother —
    continuation-count backoff with D = 0.75 — over the shared 90/10
    md5 split, completing the LM-eval family next to add-1 unigram
    (heldout_ppl) and Jelinek-Mercer (bigram_ppl). Continuation/
    following-type counts derive from the bigram table (no extra
    corpus pass); per-pair logprobs micro-int'ed before the sum; full
    SQL replay."""
    from datafusion_geo_spark.operators.text import kn_bigram_perplexity
    return kn_bigram_perplexity(_docs(spark, sf_dir))


def _q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift between corpus versions (operators/evals.py
    embedding_drift): per label, cosine of the versions' 6-dp-rounded
    mean vectors — the embedding-model regression check next to the
    value-space monitors (ks_drift/cat_drift). Versions use the
    corpus_diff convention (old = vec_id % 11 != 0, new = % 13 != 0)
    with vec_id % 7 == 0 vectors shifted +0.25 per coordinate on the
    new side (exact binary constant) so true drift exists
    deterministically. Each side is ONE (label, dim) partial+final
    average; the rounded means make the cosine engine-exact."""
    from datafusion_geo_spark.operators.evals import embedding_drift
    from datafusion_geo_spark.operators.similarity import as_double
    base = _embs(spark, sf_dir).select(
        "vec_id", F.col("label").cast("int").alias("label"),
        as_double(F.col("embedding")).alias("v"))
    old = base.where(F.col("vec_id") % 11 != 0).select("label", "v")
    new = (base.where(F.col("vec_id") % 13 != 0)
           .select("label",
                   F.when(F.col("vec_id") % 7 == 0,
                          F.transform("v", lambda x: x + F.lit(0.25)))
                   .otherwise(F.col("v")).alias("v")))
    return embedding_drift(old, new)


def _q_streaming_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming fixed-k uniform sample (streaming/sketch.py
    streaming_reservoir): per-salt bottom-k md5-coin states through
    applyInPandasWithState (<= salts×k rows forever, no watermark — the
    sample IS the eviction policy), merged by one TakeOrdered batch
    tail. Min-k union is batch-split insensitive, so the bounded replay
    equals batch reservoir_sample and the oracle is SHARED."""
    from datafusion_geo_spark.streaming.sketch import streaming_reservoir
    return streaming_reservoir(spark, sf_dir, k=64)


def _q_hll_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL cardinality estimate (operators/sketch.py hll_estimate) over
    events.user_id: the register table collapses to ONE row —
    n_registers, the exact integer indicator sum z_scaled (fits int64,
    summation-order independent), and the Flajolet estimate with
    linear-counting correction. Every float op is a fixed literal/op
    chain the oracle replays verbatim, so the 6-dp estimate hashes
    identically — the distinct-user count of an unbounded stream in
    256 ints plus one row of arithmetic."""
    from datafusion_geo_spark.operators.sketch import hll_estimate
    from datafusion_geo_spark.sources.fixtures import load_table
    ev = (load_table(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull())
          .select(F.col("user_id").cast("string").alias("key")))
    return hll_estimate(ev, "key", b=8)


def _q_streaming_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HLL (streaming/sketch.py): the SAME hll_registers
    operator run as a streaming groupBy-MAX — constant 2^b-row state
    regardless of stream length (no watermark, no TTL: the sketch IS
    the eviction policy). Bounded availableNow replay equals the batch
    register table, so the oracle is shared with hll_registers."""
    from datafusion_geo_spark.streaming.sketch import streaming_hll
    return streaming_hll(spark, sf_dir, b=8)


def _q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring (passage-level) duplication audit, Lee et al.
    2022 style: 100-char windows at stride 50, hashed corpus-wide;
    corpus augmented with exact copies of docs < 50 (doc_id + 1e6) so
    true cross-doc duplicated passages exist deterministically."""
    import pyspark.sql.functions as FF
    from datafusion_geo_spark.operators.dedup import passage_dedup_stats
    base = _docs(spark, sf_dir).select("doc_id", "text")
    copies = (base.where(FF.col("doc_id") < 50)
              .select((FF.col("doc_id") + 1_000_000).alias("doc_id"), "text"))
    return passage_dedup_stats(base.unionAll(copies))


def _q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keywords: top-5 terms per doc under the
    smoothed-idf scikit-learn formula (operators.text.tfidf_top_terms).
    Explode → two map-side-combined aggs → term join → per-doc window."""
    from datafusion_geo_spark.operators.text import tfidf_top_terms
    return tfidf_top_terms(_docs(spark, sf_dir), k=5)


BM25_QUERY = ("join", "merge", "window")


def _q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 for a fixed bag-of-words query
    (operators.text.bm25_search): per-term tf map-side via array
    filters (no explode), one broadcast one-row global aggregate,
    distributed TakeOrdered top-k."""
    from datafusion_geo_spark.operators.text import bm25_search
    return bm25_search(_docs(spark, sf_dir), list(BM25_QUERY), k=10)


DOMAIN_MIX = {"en": 0.5, "de": 1.0, "es": 0.25, "fr": 0.1}  # zh → default 0


def _q_alpha_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XLM-R/mT5-style alpha-(temperature) domain resampling
    (operators/sampling.py alpha_factors + resample_by_factor):
    p_lang ∝ n^0.5 with corpus size preserved, so rare languages
    up-sample (factor > 1 replicates rows with a deterministic
    md5-coin) and common ones down-sample. Everything after the
    IEEE-exact sqrt is integer math (micro-int factor BEFORE the
    cross-domain sum), so the oracle replays every copy exactly.
    Output: one row per emitted copy (doc_id, lang, copy_id)."""
    from datafusion_geo_spark.operators.sampling import (alpha_factors,
                                                         resample_by_factor)
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    fac = alpha_factors(docs, "lang", 0.5)
    return (resample_by_factor(docs, fac, "lang", "doc_id", seed="as1")
            .select("doc_id", "lang", "copy_id"))


def _q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-span audit — the word-level form of exact-substring
    dedup (Lee et al. 2022; operators/dedup.py dup_span_stats):
    corpus-wide 8-gram occurrence counts, then per-doc merged duplicated
    spans via a gaps-and-islands window PARTITIONED BY doc_id (sort
    parallelism grows with the corpus). Corpus augmented with exact
    copies of docs < 50 (the passage_dedup fixture) so cross-doc
    duplicated substrings exist deterministically; the fixture also
    contains natural exact-dup texts, which the audit surfaces."""
    import pyspark.sql.functions as FF
    from datafusion_geo_spark.operators.dedup import dup_span_stats
    base = _docs(spark, sf_dir).select("doc_id", "text")
    copies = (base.where(FF.col("doc_id") < 50)
              .select((FF.col("doc_id") + 1_000_000).alias("doc_id"),
                      "text"))
    return dup_span_stats(base.unionAll(copies), n=8)


def _q_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard similarity join with PPJoin-style prefix filtering
    (operators/dedup.py jaccard_prefix_pairs) over the perturbed-copy
    corpus: distinct 3-gram shingle sets, global-df-ordered prefixes as
    the only join keys, integer cross-multiplied threshold test at
    J >= 1/2 — the third candidate-generation family next to LSH
    banding (minhash_pairs) and full shingle equi-joins
    (ngram_jaccard), with no estimation error."""
    from datafusion_geo_spark.operators.dedup import (jaccard_prefix_pairs,
                                                      with_perturbed_copies)
    base = _docs(spark, sf_dir).select("doc_id", "text")
    return jaccard_prefix_pairs(with_perturbed_copies(base))


def _q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain deterministic weighted sampling (operators.sampling.
    weighted_sample): keep 50% of en, all of de, 25% of es, 10% of fr,
    drop zh — the data-mixing step of a pretraining run, compiled to a
    map-side CASE against the md5 hash bucket (no shuffle, no join)."""
    from datafusion_geo_spark.operators.sampling import weighted_sample
    from datafusion_geo_spark.sources.fixtures import load_table
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return weighted_sample(docs, "lang", "doc_id", DOMAIN_MIX)


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators.dedup.decontaminate): flag
    corpus docs sharing ≥2 distinct word trigrams with any doc of a
    held-out benchmark slice (doc_id % 97 == 0) — the GPT-3/PaLM-style
    n-gram overlap check. Equi-join on shingle with the hot-shingle df
    cap; never corpus × benchmark."""
    from datafusion_geo_spark.operators.dedup import decontaminate
    docs = _docs(spark, sf_dir)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    bench = docs.where(F.col("doc_id") % 97 == 0)
    return decontaminate(corpus, bench, min_hits=2)


def _q_dataset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus report card: doc counts, char/token totals,
    length min/max/mean/median, language breadth — the rollup a curation
    run publishes per snapshot. One partial+final hash aggregate; sums
    and averages stay in exact int64 (deterministic across engines).
    The median is Spark's exact `percentile` to match the DuckDB oracle
    bit-for-bit (quantile_cont); it buffers one group's values, so the
    100 TB deployment swaps in approx_percentile — same plan shape,
    bounded state."""
    from datafusion_geo_spark.operators.text import words_col
    docs = _docs(spark, sf_dir)
    n_tokens = F.size(words_col(F.col("text"))).cast("long")
    return (docs
            .select("source", "lang", "n_chars", n_tokens.alias("n_tokens"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"),
                 F.min("n_chars").alias("min_chars"),
                 F.max("n_chars").alias("max_chars"),
                 F.expr("percentile(n_chars, 0.5)").alias("med_chars"),
                 F.avg("n_chars").alias("avg_chars"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.countDistinct("lang").alias("n_langs")))


def _q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join (operators.range_join.
    interval_join): per-part shipment windows [ship_day, ship_day +
    linenumber] self-joined on overlap — bucketized equi-join on
    (partkey, 8-day bucket) with first-covering-bucket dedup, never a
    theta nested loop. Returns each overlapping pair once with its
    overlap length in days."""
    from datafusion_geo_spark.operators.range_join import interval_join
    from datafusion_geo_spark.sources.fixtures import load_table
    li = load_table(spark, sf_dir, "lineitem")
    day = F.floor(
        F.unix_timestamp(F.col("l_shipdate").cast("timestamp")) / 86400
    ).cast("long")
    iv = li.select(
        "l_partkey",
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("id"),
        day.alias("lo"),
        (day + F.col("l_linenumber")).alias("hi"))
    a = iv.select("l_partkey", F.col("id").alias("a_id"),
                  F.col("lo").alias("a_lo"), F.col("hi").alias("a_hi"))
    b = iv.select("l_partkey", F.col("id").alias("b_id"),
                  F.col("lo").alias("b_lo"), F.col("hi").alias("b_hi"))
    j = interval_join(a, b, "a_lo", "a_hi", "b_lo", "b_hi",
                      bucket=8.0, keys=["l_partkey"])
    return (j.where(F.col("a_id") < F.col("b_id"))
            .select("l_partkey", "a_id", "b_id",
                    (F.least("a_hi", "b_hi")
                     - F.greatest("a_lo", "b_lo")).alias("overlap_days")))


def _q_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS from pairwise matches: MinHash-LSH pairs →
    distributed min-label propagation (operators.dedup.
    connected_components) — the step that turns pair lists into dedup
    groups. The DuckDB oracle computes the same components with a
    recursive CTE over the same pair SQL."""
    from datafusion_geo_spark.operators.dedup import (connected_components,
                                                      lsh_pairs,
                                                      minhash_signature,
                                                      with_perturbed_copies)
    corpus = with_perturbed_copies(_docs(spark, sf_dir))
    pairs = lsh_pairs(minhash_signature(corpus))
    return connected_components(pairs)


def _q_dedup_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup dedup: MinHash-LSH pairs → components →
    KEEP-ONE canonical selection over the whole corpus (operators.dedup.
    keep_canonical) — the query a pipeline runs to materialize the
    cleaned corpus. Oracle replays the recursive-CTE components and the
    same left join."""
    from datafusion_geo_spark.operators.dedup import (connected_components,
                                                      keep_canonical,
                                                      lsh_pairs,
                                                      minhash_signature,
                                                      with_perturbed_copies)
    corpus = with_perturbed_copies(_docs(spark, sf_dir))
    comps = connected_components(lsh_pairs(minhash_signature(corpus)))
    return keep_canonical(corpus, comps)


def _q_streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join (streaming/enrich.py): events
    stream ⋈ broadcast customer dim → per-(segment, event_type) totals.
    Complete-mode bounded replay ≡ the oracle's batch join+GROUP BY."""
    from datafusion_geo_spark.streaming.enrich import \
        streaming_enriched_totals
    return streaming_enriched_totals(spark, sf_dir)


def _q_batch_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap sessionization (operators.sessions.gap_sessions): the
    two-window lag/cumsum shape sharing ONE user_id shuffle — the batch
    twin of streaming_sessions, replayable in ANSI window SQL."""
    from datafusion_geo_spark.operators.sessions import gap_sessions
    from datafusion_geo_spark.sources.fixtures import load_events
    return gap_sessions(load_events(spark, sf_dir))


def _q_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type EXACT interpolated quantiles (p50/p90/p99) of the
    value column — Spark's sort-based ``percentile`` matches DuckDB's
    ``quantile_cont`` definition, so the twin is exact. At the 100-TB
    design point swap in ``percentile_approx`` (t-digest sketch,
    mergeable partial aggregate) — exact percentile is the correctness
    anchor, the sketch is the scale path."""
    from datafusion_geo_spark.sources.fixtures import load_events
    ev = load_events(spark, sf_dir).where(F.col("value").isNotNull())
    q = F.expr("percentile(value, array(0.5, 0.9, 0.99))")
    return (ev.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 _rb6(q[0]).alias("p50"),
                 _rb6(q[1]).alias("p90"),
                 _rb6(q[2]).alias("p99")))


def _q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (operators.dedup.chunk_documents): docs
    split into 64-token windows with 16-token overlap, sliced before the
    explode so no full-document duplication, zero shuffle."""
    from datafusion_geo_spark.operators.dedup import chunk_documents
    return chunk_documents(_docs(spark, sf_dir))


def _q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline — the composition story: quality
    scoring (operators.text) → quality-gate filter → exact dedup keeping
    the canonical copy (operators.dedup) → deterministic train/valid/
    test split (operators.sampling) → per-split corpus stats. Every
    stage is built-ins over engineered keys, so the whole pipeline is
    three shuffles (dedup groupBy, split groupBy, final agg) regardless
    of corpus size."""
    from datafusion_geo_spark.operators.dedup import exact_dedup
    from datafusion_geo_spark.operators.sampling import with_split
    from datafusion_geo_spark.operators.text import text_stats
    base = _docs(spark, sf_dir).select("doc_id", "text")
    # corpus with exact copies (ids offset) so the dedup stage has work
    corpus = base.unionAll(base.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"))
    stats = text_stats(corpus)
    kept = (corpus.join(stats.where(F.col("quality_score") >= 0.5)
                        .select("doc_id", "n_tokens"), "doc_id"))
    canon = exact_dedup(kept.select("doc_id", "text")) \
        .select(F.col("canonical_id").alias("doc_id"), "n_copies")
    curated = (kept.join(canon, "doc_id")
               .select("doc_id", "n_tokens", "n_copies"))
    split = with_split(curated, "doc_id")
    return (split.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.sum(F.col("n_copies") - 1).alias("dupes_removed")))


def _q_grid_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big×big spatial join partitioned by grid cells (no broadcast, no
    cross product): slope +1 order-lines × slope −1 part-lines; pairs
    aggregate by intercept offset m−k ∈ {−1,0,1,2}."""
    import pyspark.sql.functions as FF
    from datafusion_geo_spark.operators.spatial_join import \
        cogrouped_grid_join_grouped
    from datafusion_geo_spark.sources.fixtures import lines_orders, lines_part
    # with_bbox: fused construct-geometry+bbox in one Python crossing, so
    # ensure_bbox inside the join skips its own Box2D pass on both sides
    a = lines_orders(spark, sf_dir, with_nulls=False, with_bbox=True) \
        .select("o_orderkey", "k", "geom", "xmin", "ymin", "xmax", "ymax")
    b = lines_part(spark, sf_dir, with_bbox=True) \
        .select("p_partkey", "m", "geom", "xmin", "ymin", "xmax", "ymax")
    # cogroup strategy fused with per-cell partial aggregation (r11,
    # guide §2.3/§8): the aggregation needs only per-group pair counts
    # + distinct keys, so each cell emits those instead of its pair
    # list — the Python→JVM transfer drops from the 12M true pairs to
    # ~1.5M (group, key) stat rows and the multi-countDistinct Expand
    # shrinks 8×. Equivalence: canonical-cell dedup already counts
    # every true pair exactly once globally, so SUM of per-cell counts
    # ≡ COUNT(*) over pairs, and COUNT(DISTINCT key) over the emitted
    # per-cell distinct keys ≡ over the pair list (set union). Gated
    # against the unchanged oracle + pinned to the pair-list operator
    # by tests/test_scale_plans.py::test_grid_grouped_matches_pairs.
    stats = cogrouped_grid_join_grouped(
        a, b, cell=8.0, a_key="o_orderkey", b_key="p_partkey",
        a_cols=["o_orderkey", "k"], b_cols=["p_partkey", "m"],
        group_of=lambda la, rb, ia, ib: (rb["m"].to_numpy()[ib]
                                         - la["k"].to_numpy()[ia]))
    return (stats.groupBy(FF.col("grp").alias("m_minus_k"))
            .agg(FF.sum("n_pairs").alias("n_pairs"),
                 FF.countDistinct("a_id").alias("n_orders"),
                 FF.countDistinct("b_id").alias("n_parts"))
            .orderBy("m_minus_k"))


def _q_geo_parquet_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard GeoParquet sink + bbox window read (sources.geoio):
    write the order-lines fixture with a ``bbox`` covering column, read
    back the window [100,140]² (files whose footer bbox misses it are
    skipped, and the window becomes a covering range filter pushed to
    parquet row-group statistics), then apply the exact ST_Intersects
    predicate. The k-range oracle is analytic: the slope-1 segment
    (k,k+1)→(k+4,k+5) meets the window iff 96 ≤ k ≤ 139; NULL geometries
    (o_orderkey%7=0) have NULL bboxes and are excluded."""
    import os
    from datafusion_geo_spark.functions import st_intersects
    from datafusion_geo_spark.sources.fixtures import lines_orders
    from datafusion_geo_spark.sources.geoio import (read_geoparquet_std,
                                                    write_geoparquet_std)
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".cache", "geoparquet", tag)
    src = lines_orders(spark, sf_dir).select("o_orderkey", "k", "geom")
    write_geoparquet_std(src, path, covering=True)
    win = read_geoparquet_std(spark, path, bbox=(100.0, 100.0, 140.0, 140.0))
    box = "POLYGON((100 100,140 100,140 140,100 140,100 100))"
    return (win.where(st_intersects(F.col("geom"), box))
            .select("o_orderkey", "k"))


def _q_geojsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoJSON-lines sink + source round-trip (sources.geoio): write the
    order-lines fixture as RFC 7946 Feature lines (geometry via
    ST_AsGeoJSON, keys in properties), read it back through the
    get_json_object → ST_GeomFromGeoJSON path with a typed properties
    schema, and emit canonical WKT. The oracle reconstructs the same WKT
    arithmetically from the key (slope-1 segment (k,k+1)→(k+4,k+5));
    NULL geometries round-trip as "geometry":null."""
    import os
    from datafusion_geo_spark.functions import st_astext
    from datafusion_geo_spark.sources.fixtures import lines_orders
    from datafusion_geo_spark.sources.geoio import (read_geojsonl,
                                                    write_geojsonl)
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".cache", "geojsonl", tag)
    src = lines_orders(spark, sf_dir).select("o_orderkey", "k", "geom")
    write_geojsonl(src, path)
    back = read_geojsonl(spark, path,
                         properties_schema="o_orderkey long, k long")
    return back.select("o_orderkey", "k",
                       st_astext(F.col("geom")).alias("wkt_out"))


# ----------------------------------------- round-6 tail: evals & hygiene

def _q_hll_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped HLL (operators/sketch.py hll_by_group): approximate
    distinct users PER event_type — the sketch that replaces
    COUNT(DISTINCT) GROUP BY when the distinct explosion stops
    fitting. One (group, register) grouped MAX with map-side combine
    (shuffle <= |groups|*256 rows per task at any corpus size), then
    the per-group Flajolet chain shared with hll_estimate — same
    literals, same 6-dp rounding, replayed verbatim by the oracle."""
    from datafusion_geo_spark.operators.sketch import hll_by_group
    from datafusion_geo_spark.sources.fixtures import load_table
    ev = (load_table(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull()
                 & F.col("event_type").isNotNull())
          .select("event_type",
                  F.col("user_id").cast("string").alias("key")))
    return hll_by_group(ev, "event_type", "key", b=8)


def _q_kmv_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable bounded-state quantile + distinct sketch per
    event_type (operators/sketch.py kmv_quantile_sketch): deterministic
    KMV/bottom-k sampling — the k smallest (h64(event_id), value) rows
    per group, built by a partition-local bottom-k combiner then min-k
    merged (state <= k entries per group per partition), sample-rank
    quantiles at p50/p90/p99, plus the classic KMV (k-1)/h_k distinct-
    user estimate. Completes the quantile family next to exact
    (value_quantiles), histogram-CDF (value_hist_quantiles) and
    streaming (streaming_quantiles). Oracle: one-pass global bottom-k
    replay (equal to the shard merge by construction)."""
    from datafusion_geo_spark.operators.sketch import kmv_quantile_sketch
    from datafusion_geo_spark.sources.fixtures import load_table
    ev = load_table(spark, sf_dir, "events")
    return kmv_quantile_sketch(ev, "event_type", "value",
                               "event_id", "user_id", k=64)


def _q_auc_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware ROC-AUC (operators/evals.py auc_exact) of a
    quantized embedding coordinate against the class indicator
    label < 5 — the eval a quality-classifier pipeline logs per
    dataset version. Histogram shape: the corpus pass is one grouped
    count; the rank-sum window runs over distinct quantized scores
    only. All ranks are exact 2x-scaled int64; auc is the house 6-dp
    half-up round of an exact-int ratio."""
    from datafusion_geo_spark.operators.evals import auc_exact
    scored = _embs(spark, sf_dir).select(
        F.floor(F.element_at(F.col("embedding"), 1).cast("double")
                * F.lit(20)).cast("long").alias("score"),
        (F.col("label") < 5).cast("int").alias("y"))
    return auc_exact(scored, "score", "y")


def _q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic
    (operators/evals.py ks_stat) between the quantized value
    distributions of 'click' vs 'error' events — the audit a pipeline
    runs between dataset versions. Cross-multiplied integer CDF gap
    (max |cumA*nB - cumB*nA|) so no float accumulates; only the final
    ratio rounds at 6 dp."""
    from datafusion_geo_spark.operators.evals import ks_stat
    from datafusion_geo_spark.sources.fixtures import load_table
    ev = (load_table(spark, sf_dir, "events")
          .where(F.col("value").isNotNull())
          .select("event_type",
                  F.floor(F.col("value") * 10).cast("long").alias("vq")))
    return ks_stat(ev, "vq", "event_type", "click", "error")


def _q_streaming_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KS drift monitor (streaming/drift.py): the quantized-
    value histogram is the streaming aggregate (state bounded by the
    quantization grid — no watermark, no TTL, like streaming_hll), and
    the CDF sweep runs as a batch tail over the final histogram table
    through the SAME ks_from_hist code as the batch operator. Bounded
    availableNow replay equals batch ks_drift, so the oracle is
    shared."""
    from datafusion_geo_spark.streaming.drift import streaming_ks
    return streaming_ks(spark, sf_dir)


def _q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of documents (operators/profile.py): row/
    null/exact-distinct counts, lexicographic min/max of the string
    form, total code-point length — the before/after audit of every
    100 TB transformation. Melt + one grouped aggregate; the k-fold
    melt is the same cost Catalyst's expand pays for multi-column
    COUNT(DISTINCT)."""
    from datafusion_geo_spark.operators.profile import table_profile
    from datafusion_geo_spark.sources.fixtures import load_table
    docs = load_table(spark, sf_dir, "documents")
    return table_profile(docs,
                         ["doc_id", "text", "lang", "source", "n_chars"])


# decomposed-unicode augmentation for normalize_text: combining acute
# (U+0301) and diaeresis (U+0308) + double space + tab + trailing space,
# so NFC / lower / collapse / strip each provably fire on the ASCII
# fixture. The oracle builds the identical string with chr() codes.
_NORM_AUG = " Café  ZÜGE\tx "


def _q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode normalization audit (operators/normalize.py): NFC +
    lower + ASCII-whitespace-run collapse + strip over text augmented
    with decomposed sequences (see _NORM_AUG). The one pandas-UDF text
    op (Spark has no NFC built-in) — map-side, no shuffle; lengths are
    code-point counts, identical in Python/Spark/DuckDB."""
    from datafusion_geo_spark.operators.normalize import normalize_text
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.substring("text", 1, 40),
                 F.lit(_NORM_AUG)).alias("text"))
    return normalize_text(docs, "text", "doc_id")


def _q_pyds_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource round-trip (sources/pyds.py): the same
    GeoJSON-lines files read through the Spark 4 DataSource V2 Python
    API (schema from options, one InputPartition per file, per-
    partition generator) instead of the JVM text+JSON fast path — and
    gated against the SAME oracle as geojsonl_roundtrip, so both
    readers provably produce identical rows from identical files."""
    import os
    from datafusion_geo_spark.functions import st_astext
    from datafusion_geo_spark.sources.fixtures import lines_orders
    from datafusion_geo_spark.sources.geoio import write_geojsonl
    from datafusion_geo_spark.sources.pyds import GeoJsonLinesDataSource
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".cache", "geojsonl_py", tag)
    src = lines_orders(spark, sf_dir).select("o_orderkey", "k", "geom")
    write_geojsonl(src, path)
    spark.dataSource.register(GeoJsonLinesDataSource)
    back = (spark.read.format("geojsonl_py")
            .option("path", path)
            .option("properties_schema", "o_orderkey long, k long")
            .load())
    return back.select("o_orderkey", "k",
                       st_astext(F.col("geom")).alias("wkt_out"))


def _q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension history (operators/scd.py scd2_history):
    each user's event_type change log as versioned rows with
    [valid_from, valid_to) epoch-micro intervals — consecutive
    duplicates collapse, same-instant events break ties by event_id.
    Two key-partitioned windows, one shuffle; the warehouse-maintenance
    primitive next to hourly_rollup."""
    from datafusion_geo_spark.operators.scd import scd2_history
    from datafusion_geo_spark.sources.fixtures import load_events
    ev = (load_events(spark, sf_dir)
          .where(F.col("ts").isNotNull())
          .select("user_id",
                  F.unix_micros(F.col("ts").cast("timestamp"))
                   .alias("ts_us"),
                  "event_id", "event_type"))
    return scd2_history(ev, "user_id", "ts_us", "event_id",
                        ["event_type"])


def _q_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew audit (operators/profile.py skew_audit) of
    events.user_id: n_keys, max/p99 group size, exact Gini of the
    group-size distribution — the report that predicts whether a
    groupBy/join on this key needs salting or AQE skew splitting.
    Corpus pass = one grouped count; everything else runs on the
    histogram OF SIZES (tie-block rank identity, pure int64)."""
    from datafusion_geo_spark.operators.profile import skew_audit
    from datafusion_geo_spark.sources.fixtures import load_table
    return skew_audit(load_table(spark, sf_dir, "events"), "user_id")


def _q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS join-cardinality estimate (operators/sketch.py
    cms_join_size): |click JOIN view ON user_id| from two depth*width
    summaries (min over rows of the cell-wise dot product — a
    guaranteed overestimate whose collisions the oracle replays),
    next to the exact truth and the 6-dp over-ratio. The
    planner-side sketch use: broadcast-vs-shuffle decisions without
    touching the data."""
    from datafusion_geo_spark.operators.sketch import cms_join_size
    from datafusion_geo_spark.sources.fixtures import load_table
    ev = load_table(spark, sf_dir, "events")
    a = (ev.where(F.col("event_type") == "click")
         .select(F.col("user_id").cast("string").alias("key")))
    b = (ev.where(F.col("event_type") == "view")
         .select(F.col("user_id").cast("string").alias("key")))
    return cms_join_size(a, b, "key", depth=4, width=1024)


def _q_streaming_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming percentile monitor (streaming/drift.py
    streaming_quantiles): histogram as the bounded-state streaming
    aggregate, integer rank test as the shared batch tail
    (quantiles_from_hist — one definition with batch hist_quantiles).
    Bounded replay equals the batch query, so the oracle is shared."""
    from datafusion_geo_spark.streaming.drift import streaming_quantiles
    return streaming_quantiles(spark, sf_dir)


def _q_streaming_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CountMin (streaming/sketch.py streaming_cms): the
    second constant-state streaming sketch — grouped SUM over
    (row, cell) holds <= depth*width state rows for an unbounded
    stream, same operator code as the batch count_min_sketch. Bounded
    replay equals the batch cell table."""
    from datafusion_geo_spark.streaming.sketch import streaming_cms
    return streaming_cms(spark, sf_dir, depth=4, width=1024)


def _q_streaming_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KMV bottom-k sketch (streaming/sketch.py
    streaming_kmv): quantile + distinct estimates per event_type with
    <= 2k+1 custom state entries carried through
    applyInPandasWithState (min-k is not one Spark aggregate — this is
    the stateful-operator spelling, next to the aggregate-state
    streaming_hll/streaming_cms). Min-k union is batch-split
    insensitive, so the bounded replay equals the batch
    kmv_quantile_sketch and the oracle is SHARED with kmv_quantiles."""
    from datafusion_geo_spark.streaming.sketch import streaming_kmv
    return streaming_kmv(spark, sf_dir, k=64)


def _q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per source (operators/text.py zipf_fit):
    least-squares ln(freq)-on-ln(rank) slope/intercept over the top-100
    words — natural text near slope -1, boilerplate flattens. Milli-int
    log points, exact int64 sums, 6-dp closed-form; full SQL replay."""
    from datafusion_geo_spark.operators.text import zipf_fit
    return zipf_fit(_docs(spark, sf_dir))


def _q_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-1/distinct-2 diversity ratios per source
    (operators/text.py distinct_ngrams, Li et al. 2016) — the
    mode-collapse check on generated/synthetic corpora. Exact counts
    (countDistinct; swap in HLL/KMV at 100 TB), 6-dp scaled-integer
    ratios, full SQL replay."""
    from datafusion_geo_spark.operators.text import distinct_ngrams
    return distinct_ngrams(_docs(spark, sf_dir))


def _q_weighted_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (operators/sampling.py
    wrs_topn, Efraimidis-Spirakis exponential clocks): per source, the
    5 documents winning the -ln(u)/w race with w = n_chars + 1 — the
    exact-size weight-proportional sampler next to weighted_sample's
    per-stratum fractions. u = (h+1)/2^32 is an exact double (power-of-
    two divide), clocks micro-rounded before ranking, so the oracle
    replays the race bit-for-bit."""
    from datafusion_geo_spark.operators.sampling import wrs_topn
    docs = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    return wrs_topn(docs, "source", "doc_id",
                    F.col("n_chars") + F.lit(1), n=5)


def _q_cat_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical drift (operators/evals.py categorical_drift):
    chi-squared homogeneity + Laplace-smoothed PSI of the event_type
    mix between the even- and odd-event_id halves — the label-mix
    drift pair next to ks_drift's continuous test. One per-category
    histogram shuffle; per-term micro rounding; full SQL replay."""
    from datafusion_geo_spark.operators.evals import categorical_drift
    from datafusion_geo_spark.sources.fixtures import load_table
    ev = (load_table(spark, sf_dir, "events")
          .where(F.col("event_type").isNotNull())
          .select("event_type",
                  (F.col("event_id") % 2 == 0).cast("int").alias("side")))
    return categorical_drift(ev, "event_type", "side")


def _q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering (operators/sampling.py curriculum_order):
    quality-decile buckets from the mean unigram logprob (ONE exact
    percentile aggregate, broadcast back), best decile = bucket 0,
    deterministic md5 shuffle key within buckets — the easy-to-hard
    epoch construction. Bucket assignment and key are map-only; the
    oracle replays the score chain + quantile_cont thresholds."""
    from datafusion_geo_spark.operators.sampling import curriculum_order
    from datafusion_geo_spark.sources.fixtures import load_table
    return curriculum_order(load_table(spark, sf_dir, "documents"))


def _q_streaming_cat_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming label-mix drift (streaming/drift.py streaming_cat_drift):
    the per-category two-side histogram maintained as a bounded-state
    streaming aggregate (state = |categories| rows, no watermark), the
    chi2/PSI tail shared with the batch categorical_drift
    (cat_drift_from_hist). Bounded replay == batch, oracle SHARED with
    cat_drift."""
    from datafusion_geo_spark.streaming.drift import streaming_cat_drift
    return streaming_cat_drift(spark, sf_dir)


def _q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration (reliability) bins: quantized score -> observed
    positive rate — the plot behind 'is the quality classifier's score
    a probability'. One grouped aggregate; the rate is the repo's
    exact scaled-integer 6-dp ratio, so the float replays
    bit-for-bit."""
    from datafusion_geo_spark.operators.text import _ratio6
    e = _embs(spark, sf_dir).select(
        F.floor(F.element_at(F.col("embedding"), 1).cast("double")
                * F.lit(10)).cast("long").alias("bin"),
        (F.col("label") < 5).cast("long").alias("y"))
    agg = (e.groupBy("bin")
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("y").cast("long").alias("n_pos")))
    return agg.select("bin", "n", "n_pos",
                      _ratio6(F.col("n_pos"), F.col("n"))
                      .alias("pos_rate"))


def _q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: fixture label (documents.lang) x
    lang_id prediction, with counts — the eval table a classifier
    change is judged by. Composes the lang_id operator with one
    grouped count (keep_cols passthrough: ONE map-side pass, no
    re-scan/self-join on doc_id); the oracle reuses the lang_id oracle
    SQL as a CTE so the prediction logic has ONE definition per
    engine."""
    from datafusion_geo_spark.operators.text import lang_id
    docs = _docs(spark, sf_dir)
    pred = lang_id(docs, keep_cols=("lang",))
    return (pred.groupBy("lang", "lang_pred")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))


def _q_rbo_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (operators/evals.py rbo_overlap, Webber et
    al. 2010) of trained-IVF top-10 vs brute-force cosine top-10 per
    query — the top-weighted ranking-agreement eval next to
    ann_recall's set recall. Per-pair weights are precomputed micro-int
    literals (one python definition feeds both engines), so the
    geometric series never crosses engines as float arithmetic."""
    from datafusion_geo_spark.operators.evals import rbo_overlap
    bf = _q_cosine_topk(spark, sf_dir)
    ann = _q_ivf_trained_topk(spark, sf_dir)
    return rbo_overlap(bf, ann, k=10, p=0.9)


def _q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the trained-IVF ranking against brute-force gains
    (operators/evals.py ndcg_overlap) — the graded-relevance companion
    to rbo_eval: each retrieved item weighted by the exact scorer's
    6-dp similarity (clamped micro-int gain) and the 1/log2(1+r)
    discount table inlined as literals from one python definition.
    Exact int64 gain-discount sums; one 6-dp ratio per query."""
    from datafusion_geo_spark.operators.evals import ndcg_overlap
    bf = _q_cosine_topk(spark, sf_dir)
    ann = _q_ivf_trained_topk(spark, sf_dir)
    return ndcg_overlap(bf, ann, k=10)


def _q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embeddings' uncentered second
    moments (operators/mlfit.py pca_top_component): milli-int
    quantization, partition-local numpy int64 Gram partials (exact in
    any summation order) + one (i,j)-grouped SUM, then two unrolled
    power-iteration rounds driver-side in pure integer arithmetic —
    the whitening/anisotropy audit. Oracle replays the Gram and both
    rounds in SQL CTEs."""
    from datafusion_geo_spark.operators.mlfit import pca_top_component
    from datafusion_geo_spark.sources.fixtures import load_table
    return pca_top_component(load_table(spark, sf_dir, "embeddings"))


def _q_streaming_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PCA monitor (streaming/score.py streaming_pca): the
    exact-int64 Gram as a constant dim^2-state streaming aggregate
    (mapInPandas partials merge in any order — integer sums), the
    power rounds as the driver tail shared with pca_power. Bounded
    replay == batch; oracle SHARED with pca_power."""
    from datafusion_geo_spark.streaming.score import streaming_pca
    return streaming_pca(spark, sf_dir)


def _q_kappa_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa of the lang_id classifier vs the fixture label
    (operators/evals.py cohen_kappa over the lang_confusion matrix):
    chance-corrected agreement via the exact-integer identity
    kappa = (N·T − PE)/(N² − PE). The matrix is |langs|² rows, so
    every aggregate is bounded; oracle wraps the lang_confusion SQL as
    a CTE (one prediction definition per engine)."""
    from datafusion_geo_spark.operators.evals import cohen_kappa
    conf = _q_lang_confusion(spark, sf_dir)
    return cohen_kappa(conf, "lang", "lang_pred", "n_docs")


def _q_mcc_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiclass Matthews correlation of the lang_id classifier vs the
    fixture label (operators/evals.py mcc_multiclass, Gorodkin R_K over
    the lang_confusion matrix) — the prevalence-robust companion to
    kappa_eval: exact int64 numerator/marginal sums, the two sqrt
    factors taken separately so nothing leaves int64 before the IEEE
    tail. Oracle wraps the lang_confusion SQL as a CTE (one prediction
    definition per engine, the kappa discipline)."""
    from datafusion_geo_spark.operators.evals import mcc_multiclass
    conf = _q_lang_confusion(spark, sf_dir)
    return mcc_multiclass(conf, "lang", "lang_pred", "n_docs")


def _q_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision / PR-AUC (operators/evals.py
    average_precision) of the auc_eval score against the same label —
    the class-imbalance-honest companion to ROC-AUC (ROC flatters a
    rare-positive classifier; AP does not). Same histogram shape as
    auc_exact; per-block precisions fixed to exact-int micro ratios
    BEFORE the weighted sum so no float accumulates across engines."""
    from datafusion_geo_spark.operators.evals import average_precision
    scored = _embs(spark, sf_dir).select(
        F.floor(F.element_at(F.col("embedding"), 1).cast("double")
                * F.lit(20)).cast("long").alias("score"),
        (F.col("label") < 5).cast("int").alias("y"))
    return average_precision(scored, "score", "y")


def _q_ece_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error (operators/evals.py ece_from_scores)
    of the shifted first embedding coordinate read as a confidence —
    the one-number summary of calibration_bins' reliability table.
    conf = e1 + 0.5 (exact binary shift keeps the fixture's [-.5, .5]
    coordinate inside [0, 1]) micro-quantized and clamped identically
    on both engines; per-bin gaps are the exact int64 identity
    n_b·|acc_b − conf̄_b| = |npos_b·1e6 − Σconf_micro|."""
    from datafusion_geo_spark.operators.evals import ece_from_scores
    e1 = F.element_at(F.col("embedding"), 1).cast("double") + F.lit(0.5)
    cm = F.least(F.greatest(
        F.floor(e1 * F.lit(1e6) + F.lit(0.5)).cast("long"), F.lit(0)),
        F.lit(1_000_000))
    scored = _embs(spark, sf_dir).select(
        cm.alias("conf_micro"),
        (F.col("label") < 5).cast("int").alias("y"))
    return ece_from_scores(scored, "conf_micro", "y", n_bins=10)


def _q_spearman_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (operators/evals.py spearman_overlap)
    of trained-IVF top-10 vs brute-force top-10 per query, over their
    common items re-ranked within the intersection — the
    monotone-agreement eval completing the ranking family (recall =
    set, rbo = top-weighted, ndcg = graded, rho = displacement).
    Tie-free closed form in exact int64; signed 6-dp half-away."""
    from datafusion_geo_spark.operators.evals import spearman_overlap
    bf = _q_cosine_topk(spark, sf_dir)
    ann = _q_ivf_trained_topk(spark, sf_dir)
    return spearman_overlap(bf, ann)


def _q_kendall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-a (operators/evals.py kendall_overlap) of the same
    ranking pair as spearman_eval — pairwise concordance, enumerated
    by a within-query self-join bounded at k(k−1)/2 pairs; corpus-
    scale work stays the one (query, neighbor) equi-join."""
    from datafusion_geo_spark.operators.evals import kendall_overlap
    bf = _q_cosine_topk(spark, sf_dir)
    ann = _q_ivf_trained_topk(spark, sf_dir)
    return kendall_overlap(bf, ann)


def _q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank fusion (operators/evals.py rrf_fuse, Cormack et
    al. 2009, k0 = 60) of the brute-force and trained-IVF top-10
    rankings — the standard hybrid-retrieval merge, here fusing the
    exact and approximate dense rankers. Weights are inlined micro-int
    literals from one python table; the fused ordering is
    (rrf desc, neighbor asc) — no float path at all."""
    from datafusion_geo_spark.operators.evals import rrf_fuse
    bf = _q_cosine_topk(spark, sf_dir)
    ann = _q_ivf_trained_topk(spark, sf_dir)
    return rrf_fuse(bf, ann, k=10, k0=60)


def _q_kn_ppl_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language interpolated Kneser-Ney bigram perplexity
    (operators/text.py kn_bigram_perplexity_by): one independent KN LM
    per language over the shared 90/10 md5 split — the per-language
    difficulty table behind tokenizer_report. Same micro-int logprob
    sums as kn_bigram_ppl with the language key carried through every
    dict; the one-row totals become |langs|-row broadcast dims."""
    from datafusion_geo_spark.operators.text import kn_bigram_perplexity_by
    return kn_bigram_perplexity_by(_docs(spark, sf_dir), "lang")


def _q_tokenizer_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end tokenizer-choice report (operators/bpe.py
    tokenizer_report): per language, the smallest merge budget whose
    coverage reaches 95% of the 8-merge reference (pure-int elbow
    rule) with that variant's fertility/coverage, joined to the
    language's KN perplexity — the table composing
    tokenizer_selection + kn_ppl_by_lang into the actual decision.
    Fit SHARED with bpe_merges/bpe_encode/tokenizer_* via the process
    memo; oracle composes the two replay CTE chains and the same
    integer rule."""
    from datafusion_geo_spark.operators.bpe import bpe_train_cached, \
        tokenizer_report
    docs = _docs(spark, sf_dir)
    triples = [(l, r, m) for _, l, r, m, _ in
               bpe_train_cached(docs, "text", rounds=8,
                                cache_key=(sf_dir, "documents"))]
    return tokenizer_report(docs, triples, variants=(2, 4, 8))


def _q_f1_per_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 of the lang_id classifier
    (operators/evals.py f1_per_class over the lang_confusion matrix) —
    the per-class detail behind kappa_eval/mcc_eval's single numbers.
    All-integer identities (F1 = exact ratio 2·tp/(n_true+n_pred), no
    harmonic-mean float); oracle wraps the lang_confusion SQL as a CTE
    (one prediction definition per engine)."""
    from datafusion_geo_spark.operators.evals import f1_per_class
    conf = _q_lang_confusion(spark, sf_dir)
    return f1_per_class(conf, "lang", "lang_pred", "n_docs")


def _q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 collocations by pointwise mutual information
    (operators/text.py pmi_top_bigrams, Church & Hanks 1990) over the
    documents corpus, with the ≥5-count floor — the phrase/term-of-art
    extractor next to tfidf_top_terms (document-salient) and
    distinct_ngrams (coverage). N and B totals ride as full-frame
    windows over their dict tables; PMI micro-rounds before the
    integer-deterministic (pmi desc, w1, w2) ranking."""
    from datafusion_geo_spark.operators.text import pmi_top_bigrams
    return pmi_top_bigrams(_docs(spark, sf_dir), min_count=5, k=50)


def _q_js_unigram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between corpus versions' unigram
    distributions (operators/evals.py js_unigram_divergence_flagged) —
    the vocabulary-mix drift monitor next to ks_drift (values),
    cat_drift (labels) and embedding_drift (vectors). Versions use the
    corpus_diff convention (old = doc_id % 11 != 0, new = % 13 != 0) —
    overlapping subsets of ONE frame, so the words explode ONCE with
    both membership flags and cp/cq land in the same aggregate row (no
    second corpus pass, no full-outer join); per-word terms
    micro-round before the fold-order-free int64 sum."""
    from datafusion_geo_spark.operators.evals import \
        js_unigram_divergence_flagged
    return js_unigram_divergence_flagged(
        _docs(spark, sf_dir),
        F.col("doc_id") % 11 != 0, F.col("doc_id") % 13 != 0)


def _q_streaming_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming calibration monitor (streaming/drift.py
    streaming_ece): the per-bin (n, npos, conf_sum) histogram as a
    bounded-state streaming aggregate (n_bins rows, no watermark —
    the streaming_ks story), the ECE identity as the shared batch
    tail (ece_from_hist, ONE definition with batch). Bounded replay
    equals batch ece_eval, so the oracle is SHARED."""
    from datafusion_geo_spark.streaming.drift import streaming_ece
    return streaming_ece(spark, sf_dir)


def _q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join (operators/asof_join.py asof_join_nearest):
    each event takes its user's order with the day CLOSEST to the
    event day, ties to the backward match — completing the
    backward/forward/nearest merge_asof family. Two skew-hardened
    sweeps + one equi-join on the unique event_id; the oracle runs
    DuckDB's backward-only ASOF twice (forward via the negated axis)
    and applies the identical pick rule."""
    from datafusion_geo_spark.operators.asof_join import asof_join_nearest
    from datafusion_geo_spark.sources.fixtures import (load_events,
                                                       load_table)
    ev = load_events(spark, sf_dir).select(
        "event_id", "user_id",
        F.dayofmonth(F.col("ts")).cast("long").alias("ed"))
    o2 = (load_table(spark, sf_dir, "orders")
          .select((F.col("o_custkey") % 150).alias("user_id"),
                  F.dayofmonth(F.col("o_orderdate")).cast("long")
                   .alias("od"), "o_orderkey")
          .groupBy("user_id", "od")
          .agg(F.max("o_orderkey").alias("near_orderkey")))
    return asof_join_nearest(ev, o2, on="user_id", left_time="ed",
                             right_time="od", left_id="event_id",
                             right_cols=["near_orderkey"])


def _q_rolling_user_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: each event's rolling 1-hour cents total for
    its user (RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW over epoch
    seconds) — the event-time sliding aggregate a feature store
    computes. Partitioned by user_id, so sort parallelism scales with
    the user population; cents stay exact int64 (the hourly_rollup
    convention)."""
    from datafusion_geo_spark.sources.fixtures import load_table
    ev = (load_table(spark, sf_dir, "events")
          .where(F.col("ts").isNotNull() & F.col("value").isNotNull())
          .select("event_id", "user_id",
                  F.unix_timestamp(F.col("ts").cast("timestamp"))
                   .cast("long").alias("sec"),
                  F.round(F.col("value") * 100).cast("long")
                   .alias("cents")))
    w = (Window.partitionBy("user_id").orderBy("sec")
         .rangeBetween(-3599, 0))
    return ev.select("event_id", "user_id", "sec", "cents",
                     F.sum("cents").over(w).cast("long")
                      .alias("roll_cents"))


def _q_top_words_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped heavy hitters: top-3 words per source by exact count
    (ties by word) — the per-domain vocabulary report next to the
    global vocab_topk. One word-count aggregate, then a rank window
    PARTITIONED BY source that Spark lowers to a pre-shuffle
    WindowGroupLimit (each map task forwards only its local top-3 per
    group — the stratified_sample optimization)."""
    docs = _docs(spark, sf_dir)
    from datafusion_geo_spark.operators.text import words_col
    cnts = (docs.select("source",
                        F.explode(words_col(F.col("text"))).alias("w"))
            .where(F.col("w") != "")
            .groupBy("source", "w")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    win = Window.partitionBy("source").orderBy(F.desc("cnt"), F.asc("w"))
    return (cnts.withColumn("rank", F.row_number().over(win))
            .where(F.col("rank") <= 3)
            .select("source", "rank", "w", "cnt"))


def _q_quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped histogram-CDF quantiles (hist_quantiles with
    group_cols): p50/p90/p99 of the quantized value PER event_type —
    both the cumulative and the total are windows PARTITIONED BY the
    group (no cross join at all), so sweep parallelism scales with
    group count."""
    from datafusion_geo_spark.operators.evals import hist_quantiles
    from datafusion_geo_spark.sources.fixtures import load_table
    ev = (load_table(spark, sf_dir, "events")
          .where(F.col("value").isNotNull())
          .select("event_type",
                  F.floor(F.col("value") * 100).cast("long").alias("vq")))
    return hist_quantiles(ev, "vq", percents=(50, 90, 99),
                          group_cols=("event_type",))


def _q_chunk_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunker as a Python UDTF (operators/udtfs.py ChunkUDTF) in a
    SQL LATERAL join — the table-valued-function surface the reference
    lacks, gated against the SAME oracle as chunk_docs so the UDTF and
    the higher-order-array fast path provably never drift."""
    from datafusion_geo_spark.operators.udtfs import ChunkUDTF
    docs = _docs(spark, sf_dir)
    spark.udtf.register("chunk_udtf", ChunkUDTF)
    docs.createOrReplaceTempView("_chunk_src")
    return spark.sql("""
        SELECT d.doc_id, c.chunk_idx, c.chunk_text, c.n_tokens
        FROM _chunk_src d, LATERAL chunk_udtf(d.text) c
    """)


def _q_pyds_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SINK direction of the custom Python DataSource
    (sources/pyds.py GeoJsonLinesWriter): each task serializes its
    partition to one Feature-per-line part file and returns a commit
    message; the JVM fast-path reader (geoio.read_geojsonl) then reads
    the result back — gated against the same oracle, so the Python
    writer and the JVM writer are provably interchangeable."""
    import os
    from datafusion_geo_spark.functions import st_astext
    from datafusion_geo_spark.sources.fixtures import lines_orders
    from datafusion_geo_spark.sources.geoio import read_geojsonl
    from datafusion_geo_spark.sources.pyds import GeoJsonLinesDataSource
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".cache", "geojsonl_pyw", tag)
    spark.dataSource.register(GeoJsonLinesDataSource)
    src = lines_orders(spark, sf_dir).select("o_orderkey", "k", "geom")
    (src.write.format("geojsonl_py").mode("overwrite")
        .option("path", path).save())
    back = read_geojsonl(spark, path,
                         properties_schema="o_orderkey long, k long")
    return back.select("o_orderkey", "k",
                       st_astext(F.col("geom")).alias("wkt_out"))


def _q_dup_cluster_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram — the report a dedup run
    publishes (how much of the corpus sits in 2x, 3x, ... clusters).
    Corpus gets one exact copy of every doc (+1e6) and a SECOND copy of
    docs < 50 (+2e6), so sizes 2 and 3 both exist deterministically.
    exact_dedup's grouped hash agg, then a second tiny aggregate over
    cluster sizes: both map-side combined, shuffle rows bounded by
    distinct texts then by distinct sizes."""
    from datafusion_geo_spark.operators.dedup import exact_dedup
    d = _docs(spark, sf_dir).select("doc_id", "text")
    corpus = (d.unionAll(d.select((F.col("doc_id") + 1000000)
                                  .alias("doc_id"), "text"))
              .unionAll(d.where(F.col("doc_id") < 50)
                        .select((F.col("doc_id") + 2000000)
                                .alias("doc_id"), "text")))
    clusters = exact_dedup(corpus)
    return (clusters.groupBy("n_copies")
            .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"),
                 F.sum("n_copies").cast("long").alias("n_docs")))


def _q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: hour-of-day x event-type count matrix — the OLAP pivot
    surface next to source_lang_rollup's ROLLUP. Spark's pivot with an
    EXPLICIT value list compiles to one hash aggregate with conditional
    counts (no second pass to discover values — the form that scales);
    hour-of-day is timezone-free epoch arithmetic (the hourly_rollup
    convention). The oracle is the equivalent conditional aggregation."""
    from datafusion_geo_spark.sources.fixtures import load_table
    types = ["click", "error", "purchase", "signup", "view"]
    ev = (load_table(spark, sf_dir, "events")
          .where(F.col("ts").isNotNull())
          .select((F.floor(F.unix_timestamp(F.col("ts").cast("timestamp"))
                           / 3600).cast("long") % 24).alias("hr"),
                  "event_type"))
    piv = ev.groupBy("hr").pivot("event_type", types).count()
    return piv.select("hr", *[F.coalesce(F.col(t), F.lit(0))
                              .cast("long").alias(t) for t in types])


def _q_auc_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language ROC-AUC of the composite quality score
    (operators/text.py text_stats) as a predictor of the Gopher keep
    verdict (gopher_quality) — a REAL grouped model eval: how well does
    the cheap score rank what the rule-based filter keeps, per
    language. auc_exact's grouped form: the cumulative window is
    PARTITIONED BY lang, so sort parallelism scales with group count;
    degenerate groups (all-keep / all-drop) yield NULL auc in both
    engines. The score is the quality micro-int recovered exactly from
    the 6-dp double (floor(q*1e6 + 0.5))."""
    from datafusion_geo_spark.operators.evals import auc_exact
    from datafusion_geo_spark.operators.text import (gopher_quality,
                                                     text_stats)
    docs = _docs(spark, sf_dir)
    # one map-side pass: text_stats keeps (lang, text) riding, then
    # gopher_quality computes the label from the retained text — no
    # doc_id self-joins (two operators chain on the same scan)
    ts = text_stats(docs, keep_cols=("lang", "text"))
    scored = gopher_quality(
        ts.select("doc_id", "lang", "text",
                  F.floor(F.col("quality_score") * F.lit(1e6)
                          + F.lit(0.5)).cast("long").alias("score")),
        keep_cols=("lang", "score")).select(
        "lang", "score", F.col("keep").cast("int").alias("y"))
    return auc_exact(scored, "score", "y", group_cols=("lang",))


def _q_value_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-CDF quantiles (operators/evals.py hist_quantiles) of
    the quantized events.value — the bounded-state companion to the
    exact buffering percentile (value_quantiles): mergeable grouped
    count + integer rank test (100*cum >= p*N, no division, no float),
    the sketch shape that replaces exact percentile at 100 TB."""
    from datafusion_geo_spark.operators.evals import hist_quantiles
    from datafusion_geo_spark.sources.fixtures import load_table
    ev = (load_table(spark, sf_dir, "events")
          .where(F.col("value").isNotNull())
          .select(F.floor(F.col("value") * 100).cast("long").alias("vq")))
    return hist_quantiles(ev, "vq", percents=(50, 90, 99))


def _q_domain_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source word-distribution Shannon entropy (operators/text.py
    domain_entropy) — the diversity metric next to alpha_resample's
    sampling factors. Per-term micro-int scaling keeps the corpus sum
    order-independent (unigram_logprob discipline); shuffle carries one
    row per distinct (domain, word)."""
    from datafusion_geo_spark.operators.text import domain_entropy
    return domain_entropy(_docs(spark, sf_dir), "text", "source")


def _q_feature_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation (operators/evals.py pearson_corr) between
    two micro-int-quantized embedding coordinates — the feature-
    redundancy check an embedding pipeline logs. One partial+final
    aggregate of six exact int64 moments; the closed form (double cast
    before the variance product, IEEE sqrt/divide, 6-dp round) replays
    bit-for-bit in the oracle."""
    from datafusion_geo_spark.operators.evals import pearson_corr
    e = _embs(spark, sf_dir).select(
        F.floor(F.element_at(F.col("embedding"), 1).cast("double")
                * F.lit(1e6) + F.lit(0.5)).cast("long").alias("x"),
        F.floor(F.element_at(F.col("embedding"), 2).cast("double")
                * F.lit(1e6) + F.lit(0.5)).cast("long").alias("y"))
    return pearson_corr(e, "x", "y")


def _q_source_lang_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP ROLLUP over (source, lang): doc counts + char totals at
    detail, per-source subtotal, and grand-total levels, with the
    grouping-id bitmask distinguishing the levels — the SURVEY §2
    'grouping sets / cube / rollup' host surface, demonstrated against
    DuckDB's GROUP BY ROLLUP. Pure built-in: Catalyst expands the
    grouping sets into one aggregate (map-side combined), no extra
    scan per level."""
    from datafusion_geo_spark.sources.fixtures import load_table
    docs = load_table(spark, sf_dir, "documents")
    return (docs.rollup("source", "lang")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("sum_chars"),
                 F.grouping_id().cast("long").alias("gid")))


# CSV-hostile augmentation: comma, quote, LF, doubled quote — the
# character classes RFC-4180 quoting must protect. The oracle rebuilds
# it with chr() codes and never touches the CSV (the round-trip itself
# is what's under test). Deliberately NO bare CR: Spark's multiLine
# reader (univocity) normalizes line separators INSIDE quoted fields,
# so a lone \r comes back as \n — a documented lossy edge of the
# format, not of this pipeline (see rowio.py).
_CSV_AUG = ',"x\ny""z end '
#: JSONL hostile classes: quote, LF, tab, backslash inside a string
_JSONL_AUG = ' "q\n\tz\\ end'


def _q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC-4180 CSV sink + source round-trip (sources/rowio.py): text
    augmented with embedded comma/quote/LF/CR is written with
    double-quote escaping + quoteAll and read back with the pinned
    reader options (multiLine for quoted newlines). The oracle computes
    the same augmented rows straight from parquet — equality proves the
    CSV codec is lossless on the hostile classes. NULL text is filtered
    on both sides (CSV can't encode NULL vs '' without a side
    convention; documented in rowio.py)."""
    import os
    from datafusion_geo_spark.sources.rowio import (read_csv_rfc4180,
                                                    write_csv_rfc4180)
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".cache", "csv_rt", tag)
    src = (_docs(spark, sf_dir)
           .where(F.col("text").isNotNull())
           .select("doc_id",
                   F.concat(F.substring("text", 1, 30),
                            F.lit(_CSV_AUG)).alias("text2"),
                   "lang", "n_chars"))
    write_csv_rfc4180(src, path)
    return read_csv_rfc4180(
        spark, path, "doc_id long, text2 string, lang string, n_chars long")


def _q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-Lines sink + source round-trip (sources/rowio.py): text
    augmented with embedded quote/LF/tab/backslash writes as one
    escaped object per line and reads back with an explicit schema.
    Unlike CSV, NULL round-trips (dropped field on write → NULL on
    schema'd read) — the fixture has no null texts, so every doc_id %
    7 == 0 row's text2 is FORCED NULL to exercise that path: it must
    come back NULL, not '' or 'null'. Oracle computes the augmented
    rows straight from parquet: equality proves the JSON codec is
    lossless on the hostile classes."""
    import os
    from datafusion_geo_spark.sources.rowio import read_jsonl, write_jsonl
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".cache", "jsonl_rt", tag)
    src = (_docs(spark, sf_dir)
           .select("doc_id",
                   F.when(F.col("doc_id") % 7 != 0,
                          F.concat(F.substring("text", 1, 30),
                                   F.lit(_JSONL_AUG))).alias("text2"),
                   "lang", "n_chars"))
    write_jsonl(src, path)
    return read_jsonl(
        spark, path, "doc_id long, text2 string, lang string, n_chars long")


def _q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source round-trip (sources/rowio.py) on the
    embeddings table — nested array<float> included. Output carries a
    per-row micro-int checksum of the vector (sum of
    floor(x*1e6 + 0.5), order-independent int64), so one changed float
    bit anywhere fails the oracle without hashing raw float arrays."""
    import os
    from datafusion_geo_spark.sources.rowio import read_orc, write_orc
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".cache", "orc_rt", tag)
    write_orc(_embs(spark, sf_dir), path)
    back = read_orc(spark, path)
    micro = F.aggregate(
        F.transform(F.col("embedding"),
                    lambda x: F.floor(x.cast("double") * F.lit(1e6)
                                      + F.lit(0.5)).cast("long")),
        F.lit(0).cast("long"), lambda acc, v: acc + v)
    return back.select("vec_id", "label",
                       F.size("embedding").alias("dim"),
                       micro.alias("vec_micro_sum"))


def _q_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation (operators/text.py split_sentences) over
    text given synthetic terminators (every standalone 'row' gains a
    period — the fixture has no punctuation). Inject-marker-then-split
    keeps Java regex and RE2 semantics identical (no lookbehind);
    per-sentence word counts use the house empty-filtered split."""
    from datafusion_geo_spark.operators.text import split_sentences
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_replace("text", r"\brow\b", "row.").alias("text"))
    return split_sentences(docs, "text", "doc_id")


def _q_ari_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted Rand Index (operators/evals.py adjusted_rand, Hubert &
    Arabie 1985) of the lang_id partition vs the fixture label over
    the lang_confusion contingency table — the permutation-invariant
    agreement companion to kappa_eval/mcc_eval (label names don't have
    to align, so the same operator scores unlabeled clusterings).
    Pair-counting sums exact int64; one fixed double chain at the end.
    Oracle wraps the lang_confusion SQL as a CTE."""
    from datafusion_geo_spark.operators.evals import adjusted_rand
    conf = _q_lang_confusion(spark, sf_dir)
    return adjusted_rand(conf, "lang", "lang_pred", "n_docs")


def _q_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's nominal alpha (operators/evals.py
    krippendorff_alpha) over a 3-rater grid built in ONE map pass —
    rater 1 the fixture label, rater 2 the lang_id prediction, rater 3
    the same classifier on the drop-first-word perturbation (the dedup
    corpus transformation): the multi-rater chance-corrected
    reliability metric kappa_eval cannot express. Per-unit mismatch
    pairs are map-side expressions (no unit-level shuffle); marginals
    one |labels|-sized grouped count; exact int64 identity, one final
    double divide."""
    from datafusion_geo_spark.operators.evals import krippendorff_alpha
    from datafusion_geo_spark.operators.text import lang_pred_col
    pert = F.expr("substring(text, instr(text, ' ') + 1)")
    units = _docs(spark, sf_dir).select(
        "doc_id", F.col("lang").alias("r_truth"),
        lang_pred_col(F.col("text")).alias("r_full"),
        lang_pred_col(pert).alias("r_pert"))
    return krippendorff_alpha(units, ["r_truth", "r_full", "r_pert"])


def _q_bleu_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus BLEU-4 (operators/evals.py bleu_corpus, Papineni et al.
    2002) of the drop-first-word perturbation against the original
    text — quantifying how far the dedup-corpus transformation drifts
    from its source, the overlap eval any rewrite stage (PII scrub,
    OCR cleanup, decontamination edit) is judged by. Clipped
    matched/total counts exact int64 from one (doc, n, gram)
    equi-join; ln/exp tail under the repo's libm-parity contract."""
    from datafusion_geo_spark.operators.evals import bleu_corpus
    pairs = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr("substring(text, instr(text, ' ') + 1)").alias("cand"),
        F.col("text").alias("ref"))
    return bleu_corpus(pairs, "cand", "ref")


def _q_novel_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language novel-trigram rate of the md5-coin eval split vs
    train (operators/text.py novel_ngram_rate) — the
    memorization/novelty audit: near-zero means the held-out set is
    recombinations of training text. Two grouped DISTINCTs + one
    anti-join on the gram key; counts exact int64, rate the house
    exact 6-dp ratio."""
    from datafusion_geo_spark.operators.text import novel_ngram_rate
    return novel_ngram_rate(_docs(spark, sf_dir))


def _q_edit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity self-join (operators/edit_join.py,
    FastSS deletion-neighborhood blocking) over document titles (first
    3 words): all distinct-title pairs within Levenshtein distance 2 —
    the record-linkage / short-field fuzzy-match operator. Distinct →
    bounded variant explode → hash equi-join → built-in JVM
    levenshtein verify; zero Python, no cross product anywhere."""
    from datafusion_geo_spark.operators.edit_join import \
        edit_distance_join
    from datafusion_geo_spark.operators.text import words_col
    titles = _docs(spark, sf_dir).select(
        F.concat_ws(" ", F.slice(words_col(F.col("text")), 1, 3))
        .alias("title"))
    return edit_distance_join(titles, "title", k=2)


def _q_wer_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word error rate (operators/evals.py word_error_rate) of
    a substitute-and-delete perturbation — 'data'→'info' everywhere
    plus the drop-first-word edit — against the original text: the
    ASR/transcription-style sequence eval completing the overlap
    family (BLEU = n-gram precision, chrF = char F-score, WER = true
    sequence edit distance). Each pair's distinct words encode to
    single ASCII chars, so the word-sequence Levenshtein IS the
    built-in JVM ``levenshtein`` — map-only, zero Python."""
    from datafusion_geo_spark.operators.evals import word_error_rate
    d = _docs(spark, sf_dir).select(
        "doc_id", F.col("text").alias("ref"),
        F.regexp_replace(F.col("text"), r"\bdata\b", "info")
        .alias("_t2"))
    pairs = d.select(
        "doc_id", "ref",
        F.expr("substring(_t2, instr(_t2, ' ') + 1)").alias("cand"))
    return word_error_rate(pairs, "cand", "ref")


def _q_chrf_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus chrF2 (operators/evals.py chrf_corpus, Popović 2015) of
    the drop-first-word perturbation against the original text — the
    character-level companion to bleu_eval, robust where tokenization
    differs. Character-n-gram (n = 1..6) clipped counts exact int64
    from one side-tagged (doc, n, gram) grouped aggregate over
    whitespace-stripped text (no gram equi-join);
    the macro-averaged P/R and the F_beta combine (β² = 4, exact in
    binary) are one fixed double expression of those ints."""
    from datafusion_geo_spark.operators.evals import chrf_corpus
    pairs = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr("substring(text, instr(text, ' ') + 1)").alias("cand"),
        F.col("text").alias("ref"))
    return chrf_corpus(pairs, "cand", "ref")


def _q_fuzzy_title_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution composition: edit-distance pairs over document
    titles (operators/edit_join.py, lev ≤ 2) → distributed min-label
    components (operators/dedup.py connected_components — the
    neardup_components machinery on a STRING key) → per-cluster title
    and document counts, multi-title clusters only: the fuzzy-dedup
    review table a curator works from. Oracle replays the brute
    levenshtein pairs and the same components as a recursive CTE."""
    from datafusion_geo_spark.operators.dedup import connected_components
    from datafusion_geo_spark.operators.edit_join import \
        edit_distance_join
    from datafusion_geo_spark.operators.text import words_col
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(" ", F.slice(words_col(F.col("text")), 1, 3))
        .alias("title")).where(F.trim(F.col("title")) != "")
    pairs = edit_distance_join(docs, "title", k=2)
    comps = connected_components(pairs, "a", "b") \
        .select(F.col("doc_id").alias("_t"),
                F.col("component"))
    labeled = (docs.join(comps, docs.title == F.col("_t"), "left")
               .select("doc_id", "title",
                       F.coalesce("component", "title")
                       .alias("component")))
    return (labeled.groupBy("component")
            .agg(F.countDistinct("title").cast("long").alias("n_titles"),
                 F.count(F.lit(1)).cast("long").alias("n_docs"))
            .where(F.col("n_titles") > 1))


def _q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain-mixture planner (operators/sampling.py
    temperature_mix_weights, τ = 2): per language, sampling weight ∝
    √n_tokens — the low-resource up-weighting rule a multilingual
    pretraining budget is split by (mT5 §3.1), the planner companion
    to domain_mix's fixed-weight applier. The sqrt of an exact int64
    is one correctly-rounded IEEE op, milli-rounded BEFORE the integer
    normalization sum; the weight is the house exact 6-dp ratio with
    the total as a full-frame window over the |langs| dict table."""
    from datafusion_geo_spark.operators.sampling import \
        temperature_mix_weights
    return temperature_mix_weights(_docs(spark, sf_dir))


def _q_streaming_wer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming rewrite-drift monitor (streaming/drift.py
    streaming_wer): corpus WER of the wer_eval perturbation maintained
    as a ONE-row global streaming aggregate (4 commutative int64 sums
    — state = 1 row, no watermark); the per-row encode + levenshtein
    projection and the exact 6-dp tail are SHARED with batch wer_eval,
    so the bounded replay equals batch and the oracle is SHARED."""
    from datafusion_geo_spark.streaming.drift import streaming_wer
    return streaming_wer(spark, sf_dir)


def _q_streaming_unigram_fertility(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Streaming tokenizer-fertility monitor (streaming/drift.py
    streaming_unigram_fertility): the per-language unigram-LM
    fertility report as a bounded streaming aggregate (state = |langs|
    rows of 3 commutative int64 sums, no watermark). Model = the
    OFFLINE unigram_train fit (shared process memo with unigram_vocab
    — fit batch, monitor the stream); the per-document Viterbi token
    counts and the exact 6-dp tail are SHARED with batch
    unigram_fertility, so the bounded availableNow replay equals batch
    and the oracle is SHARED."""
    from datafusion_geo_spark.streaming.drift import \
        streaming_unigram_fertility
    return streaming_unigram_fertility(spark, sf_dir)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver's correctness gate checks exactly the
    # FIRST 50 entries. The dict lists every query in its historical
    # grouping; _FIRST50 below pins the gate slots and the dict is
    # reordered on return (see the rotation policy there).
    q = {
        # --- ROUND-8 GATE SLOTS 1-16: never driver-gated (added r7) ---
        "kmv_quantiles": _q_kmv_quantiles,
        "intersects_scan": _q_intersects_scan,
        "bigram_ppl": _q_bigram_ppl,
        "streaming_kmv": _q_streaming_kmv,
        "cat_drift": _q_cat_drift,
        "cluster_cohesion": _q_cluster_cohesion,
        "weighted_topn": _q_weighted_topn,
        "distinct_ngrams": _q_distinct_ngrams,
        "zipf_fit": _q_zipf_fit,
        "streaming_cat_drift": _q_streaming_cat_drift,
        "curriculum_order": _q_curriculum_order,
        "kappa_eval": _q_kappa_eval,
        "pca_power": _q_pca_power,
        "streaming_pca": _q_streaming_pca,
        "rbo_eval": _q_rbo_eval,
        "ndcg_eval": _q_ndcg_eval,
        # --- NEW this round (round 8): tokenizer-quality eval + the
        #     uniform sampling pair completing the family ---
        "tokenizer_fertility": _q_tokenizer_fertility,
        "dsir_select": _q_dsir_select,
        "unigram_vocab": _q_unigram_vocab,
        "unigram_fertility": _q_unigram_fertility,
        "reservoir_sample": _q_reservoir_sample,
        "bernoulli_sample": _q_bernoulli_sample,
        "streaming_reservoir": _q_streaming_reservoir,
        "tokenizer_selection": _q_tokenizer_selection,
        "embedding_drift": _q_embedding_drift,
        "kn_bigram_ppl": _q_kn_bigram_ppl,
        "jsonl_roundtrip": _q_jsonl_roundtrip,
        # --- regression canaries (heavy, driver-green r1-r7) ---
        "grid_spatial_join": _q_grid_spatial_join,
        "minhash_pairs": _q_minhash_pairs,
        # --- re-gates: SURVEY §2 geometry set, last gated r4 ---
        "wkt_roundtrip_points": _q_wkt_roundtrip_points,
        "intersects_lines": _q_intersects_lines,
        "extent_by_mktsegment": _q_extent_by_mktsegment,
        "box2d_lines": _q_box2d_lines,
        "covers_envelope": _q_covers_envelope,
        "equals_lines": _q_equals_lines,
        "wkb_roundtrip": _q_wkb_roundtrip,
        "srid_ewkt": _q_srid_ewkt,
        "geojson_points": _q_geojson_points,
        "geometry_type": _q_geometry_type,
        "buffer_bbox": _q_buffer_bbox,
        "boundary_literals": _q_boundary_literals,
        "mvt_literal": _q_mvt_literal,
        "split_literal": _q_split_literal,
        "translate_points": _q_translate_points,
        "spatial_join": _q_spatial_join,
        "extent_sql_udaf": _q_extent_sql_udaf,
        # --- re-gates: bench-weak + heaviest r3/r4 pipeline queries ---
        "cosine_topk": _q_cosine_topk,
        "dwithin_join": _q_dwithin_join,
        "ivf_topk": _q_ivf_topk,
        "ann_topk": _q_ann_topk,
        "embedding_neardup": _q_embedding_neardup,
        "exact_dedup": _q_exact_dedup,
        "simhash_pairs": _q_simhash_pairs,
        # ---------------- position 51+ below this line ----------------
        # (re-gate candidates displaced by the round-8 adds; all
        # r3/r4-green and still gated locally every run)
        "ngram_jaccard": _q_ngram_jaccard,
        "asof_join": _q_asof_join,
        "hash_split": _q_hash_split,
        "neardup_components": _q_neardup_components,
        "chunk_docs": _q_chunk_docs,
        "curation_pipeline": _q_curation_pipeline,
        "range_tag_events": _q_range_tag_events,
        "geo_parquet_window": _q_geo_parquet_window,
        # --- driver-green in an earlier round; still gated locally by
        #     tests/test_entry_oracle.py every run ---
        "dup_spans": _q_dup_spans,
        "jaccard_prefix": _q_jaccard_prefix,
        "ivfpq_topk": _q_ivfpq_topk,
        "hll_setops": _q_hll_setops,
        "streaming_ridge": _q_streaming_ridge,
        "heldout_ppl": _q_heldout_ppl,
        "mlm_masking": _q_mlm_masking,
        "span_corruption": _q_span_corruption,
        "hard_negatives": _q_hard_negatives,
        "logreg_weights": _q_logreg_weights,
        "linreg_weights": _q_linreg_weights,
        "linreg_score": _q_linreg_score,
        "bpe_encode": _q_bpe_encode,
        "pq_recall": _q_pq_recall,
        "corpus_diff": _q_corpus_diff,
        "setsrid_roundtrip": _q_setsrid_roundtrip,
        "alpha_resample": _q_alpha_resample,
        "hll_estimate": _q_hll_estimate,
        "hll_by_group": _q_hll_by_group,
        "auc_eval": _q_auc_eval,
        "ks_drift": _q_ks_drift,
        "table_profile": _q_table_profile,
        "normalize_text": _q_normalize_text,
        "sentence_split": _q_sentence_split,
        "csv_roundtrip": _q_csv_roundtrip,
        "orc_roundtrip": _q_orc_roundtrip,
        "streaming_drift": _q_streaming_drift,
        "feature_corr": _q_feature_corr,
        "source_lang_rollup": _q_source_lang_rollup,
        "auc_by_group": _q_auc_by_group,
        "dup_cluster_hist": _q_dup_cluster_hist,
        "pyds_roundtrip": _q_pyds_roundtrip,
        "pyds_write_roundtrip": _q_pyds_write_roundtrip,
        "scd2_history": _q_scd2_history,
        "skew_audit": _q_skew_audit,
        "join_size_estimate": _q_join_size_estimate,
        "streaming_quantiles": _q_streaming_quantiles,
        "streaming_cms": _q_streaming_cms,
        "calibration_bins": _q_calibration_bins,
        "lang_confusion": _q_lang_confusion,
        "asof_nearest": _q_asof_nearest,
        "rolling_user_sum": _q_rolling_user_sum,
        "top_words_by_source": _q_top_words_by_source,
        "quantiles_by_type": _q_quantiles_by_type,
        "chunk_udtf": _q_chunk_udtf,
        "events_pivot": _q_events_pivot,
        "value_hist_quantiles": _q_value_hist_quantiles,
        "domain_entropy": _q_domain_entropy,
        "audio_frames": _q_audio_frames,
        "pagerank_neardup": _q_pagerank_neardup,
        "graph_stats": _q_graph_stats,
        "random_projection": _q_random_projection,
        "zonal_stats": _q_zonal_stats,
        "sphere_nav": _q_sphere_nav,
        "geometric_median": _q_geometric_median,
        "map_match": _q_map_match,
        "session_window_agg": _q_session_window_agg,
        "vocab_encode": _q_vocab_encode,
        "buildarea_literal": _q_buildarea_literal,
        "streaming_map_match": _q_streaming_map_match,
        "longest_line_literal": _q_longest_line_literal,
        "quality_filter": _q_quality_filter,
        "hilbert_keys": _q_hilbert_keys,
        "streaming_hexbin": _q_streaming_hexbin,
        "accessors2_literal": _q_accessors2_literal,
        "geom_edit_points": _q_geom_edit_points,
        "relate_literal": _q_relate_literal,
        "edit_utils_literal": _q_edit_utils_literal,
        "validity_literal": _q_validity_literal,
        "mic_snap_literal": _q_mic_snap_literal,
        "offset_clip_literal": _q_offset_clip_literal,
        "tile_normalize_literal": _q_tile_normalize_literal,
        "line_edit_literal": _q_line_edit_literal,
        "dedup_keep_one": _q_dedup_keep_one,
        "streaming_enrich": _q_streaming_enrich,
        "batch_sessions": _q_batch_sessions,
        "value_quantiles": _q_value_quantiles,
        "setops_literal": _q_setops_literal,
        "line_merge_literal": _q_line_merge_literal,
        "smoothing_literal": _q_smoothing_literal,
        "url_dedup": _q_url_dedup,
        "embed_quantize": _q_embed_quantize,
        "subdivide_boxes": _q_subdivide_boxes,
        "polygonize_literal": _q_polygonize_literal,
        "unigram_logprob": _q_unigram_logprob,
        "makevalid_literal": _q_makevalid_literal,
        "shortline_project": _q_shortline_project,
        "makevalid_bowties": _q_makevalid_bowties,
        "polygonize_regions": _q_polygonize_regions,
        "pack_sequences": _q_pack_sequences,
        "streaming_geofence": _q_streaming_geofence,
        "sphere_paths": _q_sphere_paths,
        "count_min_topk": _q_count_min_topk,
        "bloom_new_docs": _q_bloom_new_docs,
        "hll_registers": _q_hll_registers,
        "streaming_hll": _q_streaming_hll,
        "bpe_merges": _q_bpe_merges,
        "knn_join": _q_knn_join,
        "streaming_curation": _q_streaming_curation,
        "knn_join_jvm": _q_knn_join_jvm,
        "ivf_trained_topk": _q_ivf_trained_topk,
        "mauve_eval": _q_mauve_eval,
        "semantic_dedup": _q_semantic_dedup,
        "ann_recall": _q_ann_recall,
        "asof_forward": _q_asof_forward,
        "gopher_quality": _q_gopher_quality,
        "repetition_filter": _q_repetition_filter,
        "pii_mask": _q_pii_mask,
        "stratified_sample": _q_stratified_sample,
        "interval_overlap": _q_interval_overlap,
        "dataset_stats": _q_dataset_stats,
        "geojsonl_roundtrip": _q_geojsonl_roundtrip,
        "decontaminate": _q_decontaminate,
        "domain_mix": _q_domain_mix,
        "vocab_topk": _q_vocab_topk,
        "tfidf_top_terms": _q_tfidf_top_terms,
        "passage_dedup": _q_passage_dedup,
        "bm25_search": _q_bm25_search,
        "hourly_rollup": _q_hourly_rollup,
        "streaming_rollup": _q_streaming_rollup,
        "streaming_join": _q_streaming_join,
        "transform_points": _q_transform_points,
        "sphere_area": _q_sphere_area,
        "transform_utm": _q_transform_utm,
        "stateplane_lcc": _q_stateplane_lcc,
        "lambert93_roundtrip": _q_lambert93_roundtrip,
        "albers_conus": _q_albers_conus,
        "osgb_grid": _q_osgb_grid,
        "laea_europe": _q_laea_europe,
        "crs_pipeline": _q_crs_pipeline,
        "setops_boxes": _q_setops_boxes,
        "relate_boxes": _q_relate_boxes,
        "relate_matrix": _q_relate_matrix,
        "triangulate_literal": _q_triangulate_literal,
        "spatial_knn_join": _q_spatial_knn_join,
        "dbscan_clusters": _q_dbscan_clusters,
        "cluster_within": _q_cluster_within,
        "pq_topk": _q_pq_topk,
        "union_agg_regions": _q_union_agg_regions,
        "zorder_keys": _q_zorder_keys,
        "bounding_forms": _q_bounding_forms,
        "seeded_shuffle": _q_seeded_shuffle,
        "incremental_dedup": _q_incremental_dedup,
        "distance_sphere": _q_distance_sphere,
        "distance_spheroid": _q_distance_spheroid,
        "retention_cohorts": _q_retention_cohorts,
        "funnel_conversion": _q_funnel_conversion,
        "kmeans_clusters": _q_kmeans_clusters,
        "trajectories": _q_trajectories,
        "negative_buffer": _q_negative_buffer,
        "hexbin_customers": _q_hexbin_customers,
        "minhash_eval": _q_minhash_eval,
        "streaming_sessions": _q_streaming_sessions,
        "streaming_first_seen": _q_streaming_first_seen,
        "geojson_parse": _q_geojson_parse,
        "buffer_lines": _q_buffer_lines,
        "covers_concave": _q_covers_concave,
        "measures_lines": _q_measures_lines,
        "distance_points": _q_distance_points,
        "collect_by_segment": _q_collect_by_segment,
        "tile_pyramid": _q_tile_pyramid,
        "accessors_lines": _q_accessors_lines,
        "line_interp": _q_line_interp,
        "line_locate_literal": _q_line_locate_literal,
        "geohash_azimuth_literal": _q_geohash_azimuth_literal,
        "closest_point_lines": _q_closest_point_lines,
        "tile_stats": _q_tile_stats,
        "geo_pipeline": _q_geo_pipeline,
        "hull_simplify_literal": _q_hull_simplify_literal,
        "text_stats": _q_text_stats,
        "lang_id": _q_lang_id,
        "fingerprint": _q_fingerprint,
        "multimodal_decode": _q_multimodal_decode,
        "multimodal_frames": _q_multimodal_frames,
        "multimodal_resize": _q_multimodal_resize,
        "events_hourly_rank": _q_events_hourly_rank,
        "streaming_extent": _q_streaming_extent,
        "streaming_extent_append": _q_streaming_extent_append,
        # --- NEW this round (round 9): ranking/classification evals,
        #     hybrid-rank fusion, per-language LM eval, and the
        #     end-to-end tokenizer-choice report ---
        "mcc_eval": _q_mcc_eval,
        "pr_auc": _q_pr_auc,
        "ece_eval": _q_ece_eval,
        "spearman_eval": _q_spearman_eval,
        "kendall_eval": _q_kendall_eval,
        "rrf_fusion": _q_rrf_fusion,
        "kn_ppl_by_lang": _q_kn_ppl_by_lang,
        "tokenizer_report": _q_tokenizer_report,
        "f1_per_class": _q_f1_per_class,
        "pmi_bigrams": _q_pmi_bigrams,
        "js_unigram_drift": _q_js_unigram_drift,
        "streaming_ece": _q_streaming_ece,
        # --- NEW round 9 batch 3: overlap/agreement evals, novelty
        #     audit, and the edit-distance similarity join ---
        "bleu_eval": _q_bleu_eval,
        "ari_eval": _q_ari_eval,
        "krippendorff_alpha": _q_krippendorff_alpha,
        "novel_ngrams": _q_novel_ngrams,
        "edit_join": _q_edit_join,
        "wer_eval": _q_wer_eval,
        "chrf_eval": _q_chrf_eval,
        "fuzzy_title_dedup": _q_fuzzy_title_dedup,
        "temperature_mix": _q_temperature_mix,
        "streaming_wer": _q_streaming_wer,
        "streaming_unigram_fertility": _q_streaming_unigram_fertility,
        "tokenizer_compare": _q_tokenizer_compare,
        # --- NEW round 11: shipped-tokenizer artifact round trips,
        #     standard-GeoParquet sink round trip ---
        "sp_bpe_roundtrip": _q_sp_bpe_roundtrip,
        "sp_unigram_roundtrip": _q_sp_unigram_roundtrip,
        "geoparquet_roundtrip": _q_geoparquet_roundtrip,
        "hamming_topk": _q_hamming_topk,
        "binary_rerank": _q_binary_rerank,
        "hamming_recall": _q_hamming_recall,
        "doc_chunks": _q_doc_chunks,
        "hamming_dedup_pairs": _q_hamming_dedup_pairs,
        "nb_confusion": _q_nb_confusion,
        "rouge_eval": _q_rouge_eval,
        "shapefile_roundtrip": _q_shapefile_roundtrip,
        "phrase_search": _q_phrase_search,
        "resample_locf": _q_resample_locf,
        "isotonic_fit": _q_isotonic_fit,
        "corr_matrix": _q_corr_matrix,
        "mad_outliers": _q_mad_outliers,
        "benford_audit": _q_benford_audit,
    }
    out = {k: q[k] for k in _FIRST50}
    out.update((k, v) for k, v in q.items() if k not in out)
    return out


#: The correctness gate checks EXACTLY these 50, in order.
#: Rotation policy: queries that never earned a CORRECTNESS row
#: come first, then queries whose kernel or Column-function code changed
#: since their latest green row, then the oldest green rows (every query
#: of the oldest round when they fit, then the next round alphabetically),
#: plus the two heavy canaries grid_spatial_join and minhash_pairs.
#: ``rotation_report()`` computes the staleness this policy works down;
#: tests/test_gate_rotation.py checks it against the CORRECTNESS history.
_FIRST50 = [
    # kernels changed after the previous gate was pinned
    "ann_recall", "ivfpq_topk", "spatial_knn_join", "cluster_within",
    "neardup_components",
    # the ST_Transform kernel (one projection path in geo/proj.py)
    "transform_points", "stateplane_lcc",
    "lambert93_roundtrip", "albers_conus", "osgb_grid", "laea_europe",
    "crs_pipeline",
    # queries reaching the predicate kernels' envelope step or the
    # envelope Box2D (functions/kernels.py _by_envelope, box2d_rows);
    # with relate_literal, relate_boxes, grid_spatial_join and
    # geo_parquet_window below. They take the slots of six r11 rows whose
    # code this change does not reach: streaming_join, hamming_recall,
    # pq_topk (ivfpq_topk keeps the PQ kernels gated), knn_join,
    # transform_utm (six ST_Transform queries stay) and negative_buffer
    # (buffer_lines keeps the erosion helper gated)
    "intersects_scan", "intersects_lines", "covers_envelope",
    "covers_concave", "equals_lines", "spatial_join",
    # the oldest green rows (round 6)
    "url_dedup", "validity_literal", "value_quantiles", "vocab_encode",
    "zonal_stats",
    # queries calling a Column function whose coercion or kernel changed
    # (their seven freshest r12 rows gave their slots to the blocks below)
    "setsrid_roundtrip", "geoparquet_roundtrip", "accessors_lines",
    "relate_matrix", "triangulate_literal", "geo_parquet_window",
    # heavy regression canaries (every gate)
    "grid_spatial_join", "minhash_pairs",
    # queries calling a WKT/GeoJSON kernel, translate or ST_SetSRID (the
    # text pair in geo/vector.py, its POINT EMPTY decode, the SRID
    # re-encode)
    "wkt_roundtrip_points", "translate_points", "wkb_roundtrip",
    "srid_ewkt", "geojson_points", "geojson_parse", "geojsonl_roundtrip",
    "pyds_roundtrip", "pyds_write_roundtrip",
    # queries whose operator code changed: the one held-out perplexity
    # scaffold in operators/text.py, the erosion helper in geo/offset.py
    # and the mod-2 line boundary in geo/relate.py (they take the slots
    # of the round-7 filler rows and five r12 Column-function regates)
    "heldout_ppl", "bigram_ppl", "kn_bigram_ppl", "kn_ppl_by_lang",
    "tokenizer_report", "buffer_lines",
    "relate_literal", "relate_boxes",
    # queries whose operator code changed: distinct_ngrams and zipf_fit
    # split each document at the explode (operators/text.py _words,
    # _pairs); they take the slots of sphere_nav and
    # tile_normalize_literal, the freshest Column-function regates (r12)
    "distinct_ngrams", "zipf_fit",
]


# ---------------------------------------------------------------- oracles

_POINT_WKT = ("'POINT(' || CAST(l_orderkey % 1000 AS VARCHAR) || ' ' || "
              "CAST(l_partkey % 1000 AS VARCHAR) || ')'")

# perturbed-copy corpus shared by the dedup oracles (mirrors
# datafusion_geo_spark.operators.dedup.with_perturbed_copies)
_CORPUS = """
          SELECT doc_id, text FROM documents {where}
          UNION ALL
          SELECT doc_id + 1000000 AS doc_id,
                 substr(text, instr(text, ' ') + 1) AS text
          FROM documents {where}
"""

_WORDS = "string_split_regex(trim(text), '\\s+')"
_H64 = "('0x' || substr(md5({arg}), 1, 8))::BIGINT"

# ONE definition (operators/text.py) so the oracle regex can never drift
# from the operator's
def _bpe_chain(rounds: int, thru: bool = False) -> str:
    """Shared CTE chain replaying bpe_train (operators/bpe.py): round r
    computes pair counts over dict state r{r}, picks top-1 with the
    same (count desc, pair asc) tie-break, and folds the merge into
    r{r+1} with the same greedy list_reduce the Spark side's
    F.aggregate performs. chr(31) pair separator (ASCII-fixture
    assumption shared with the repo's other string oracles). With
    ``thru`` the chain extends to the post-round state r{rounds}
    (needed by the encode oracle); dict state carries the word ``w``
    so encode can join back."""
    sep = "chr(31)"
    parts = [f"""vocab AS (
          SELECT w, COUNT(*)::BIGINT AS n FROM (
            SELECT unnest({_WORDS}) AS w FROM documents)
          WHERE w <> '' GROUP BY w
        ), r0 AS (SELECT w, n, string_split(w, '') AS toks FROM vocab)"""]
    for r in range(rounds):
        parts.append(f"""p{r} AS (
          SELECT p, SUM(n)::BIGINT AS cnt FROM (
            SELECT n, unnest(list_transform(range(1, len(toks)),
                     i -> toks[i] || {sep} || toks[i+1])) AS p
            FROM r{r}) GROUP BY p
        ), t{r} AS (
          SELECT {r} AS merge_rank,
                 string_split(p, {sep})[1] AS lt,
                 string_split(p, {sep})[2] AS rt,
                 string_split(p, {sep})[1]
                   || string_split(p, {sep})[2] AS mg,
                 cnt
          FROM p{r} ORDER BY cnt DESC, p ASC LIMIT 1
        )""")
        if thru or r < rounds - 1:
            parts.append(f"""r{r + 1} AS (
          SELECT w, n, list_reduce(
            list_prepend([]::VARCHAR[],
                         list_transform(r{r}.toks, v -> [v])),
            (acc, v) -> CASE WHEN len(acc) > 0 AND acc[-1] = t{r}.lt
                                  AND v[1] = t{r}.rt
                             THEN list_append(array_pop_back(acc),
                                              t{r}.mg)
                             ELSE list_append(acc, v[1]) END) AS toks
          FROM r{r}, t{r}
        )""")
    return ",\n        ".join(parts)


def _bpe_oracle(rounds: int = 8) -> str:
    """The merge table: one row per round from the chain's t{r} CTEs."""
    sel = "\n            UNION ALL ".join(
        f"SELECT merge_rank, lt AS left_tok, rt AS right_tok, "
        f"mg AS merged, cnt AS pair_count FROM t{r}"
        for r in range(rounds))
    return "WITH " + _bpe_chain(rounds) + "\n            " + sel


def _bpe_encode_oracle(rounds: int = 8, max_doc: int = 200) -> str:
    """Encode replay: every doc_id < max_doc word joins the post-round
    dict state r{rounds} (training folds a word exactly as bpe_apply's
    rank-ordered folds do), token strings concatenated in word order.
    LEFT JOIN from the doc list keeps empty-text docs as ('', 0)."""
    return f"""
            WITH {_bpe_chain(rounds, thru=True)},
            enc AS (
              SELECT doc_id, i AS pos, w[i::INT] AS word
              FROM (SELECT doc_id, {_WORDS} AS w FROM documents
                    WHERE doc_id < {max_doc}) d,
                   unnest(range(1, len(w) + 1)) AS t(i)
              WHERE w[i::INT] <> ''
            ), perdoc AS (
              SELECT e.doc_id,
                     string_agg(list_aggregate(s.toks, 'string_agg', ' '),
                                ' ' ORDER BY e.pos) AS toks_str,
                     SUM(len(s.toks))::INT AS n_tokens
              FROM enc e JOIN r{rounds} s ON s.w = e.word
              GROUP BY e.doc_id
            )
            SELECT d.doc_id, COALESCE(p.toks_str, '') AS toks_str,
                   COALESCE(p.n_tokens, 0) AS n_tokens
            FROM (SELECT DISTINCT doc_id FROM documents
                  WHERE doc_id < {max_doc}) d
            LEFT JOIN perdoc p ON p.doc_id = d.doc_id
        """


def _tokenizer_fertility_oracle(rounds: int = 8) -> str:
    """DuckDB twin of bpe.tokenizer_stats: the shared training chain
    (_bpe_chain thru r{rounds}) supplies every distinct word's token
    list; per-(lang, word) counts weight the dict-sized join; fertility
    and coverage come from the identical exact-int64 half-up identity
    (2·num·1e6 + den) // (2·den)."""
    return f"""
            WITH {_bpe_chain(rounds, thru=True)},
            occ AS (
              SELECT lang, w[i::INT] AS word
              FROM (SELECT lang, {_WORDS} AS w FROM documents
                    WHERE lang IS NOT NULL) d,
                   unnest(range(1, len(w) + 1)) AS t(i)
              WHERE w[i::INT] <> ''
            ), lw AS (
              SELECT lang, word, COUNT(*)::BIGINT AS cnt
              FROM occ GROUP BY lang, word
            ), wstats AS (
              SELECT w, len(toks)::BIGINT AS wtoks,
                     COALESCE(list_sum(list_transform(toks,
                       t -> CASE WHEN len(t) >= 2 THEN len(t)
                                 ELSE 0 END)), 0)::BIGINT AS cov,
                     len(w)::BIGINT AS wchars
              FROM r{rounds}
            ), agg AS (
              SELECT lang, SUM(cnt)::BIGINT AS n_words,
                     SUM(cnt * wtoks)::BIGINT AS n_tokens,
                     SUM(cnt * cov)::BIGINT AS covered_chars,
                     SUM(cnt * wchars)::BIGINT AS n_chars
              FROM lw JOIN wstats ON wstats.w = lw.word
              GROUP BY lang
            ), nd AS (
              SELECT lang, COUNT(*)::BIGINT AS n_docs FROM documents
              WHERE lang IS NOT NULL GROUP BY lang
            )
            SELECT nd.lang, n_docs, n_words, n_tokens, n_chars,
                   ((2 * n_tokens * 1000000 + n_words)
                    // (2 * n_words))::BIGINT AS fertility_micro,
                   ((2 * covered_chars * 1000000 + n_chars)
                    // (2 * n_chars))::BIGINT AS coverage_micro
            FROM nd JOIN agg USING (lang)
        """


def _tokenizer_selection_oracle(variants=(2, 4, 8)) -> str:
    """DuckDB twin of _q_tokenizer_selection: BPE prefix-nesting means
    the n-merge tokenizer's dict state is the training chain's OWN
    intermediate r{n} table, so the sweep is one shared chain + one
    fertility/coverage select per variant, unioned. Shares the lw
    (lang, word, cnt) corpus aggregate across variants."""
    rounds = max(variants)
    per_n = []
    for n in variants:
        per_n.append(f"""
            SELECT {n}::INT AS n_merges, lang,
                   SUM(cnt * len(toks))::BIGINT AS n_tokens,
                   ((2 * SUM(cnt * len(toks)) * 1000000 + SUM(cnt))
                    // (2 * SUM(cnt)))::BIGINT AS fertility_micro,
                   ((2 * SUM(cnt * COALESCE(list_sum(list_transform(toks,
                        t -> CASE WHEN len(t) >= 2 THEN len(t)
                                  ELSE 0 END)), 0)) * 1000000
                     + SUM(cnt * len(w)))
                    // (2 * SUM(cnt * len(w))))::BIGINT AS coverage_micro
            FROM lw JOIN r{n} ON r{n}.w = lw.word
            GROUP BY lang""")
    sel = "\n            UNION ALL".join(per_n)
    return f"""
            WITH {_bpe_chain(rounds, thru=True)},
            occ AS (
              SELECT lang, w[i::INT] AS word
              FROM (SELECT lang, {_WORDS} AS w FROM documents
                    WHERE lang IS NOT NULL) d,
                   unnest(range(1, len(w) + 1)) AS t(i)
              WHERE w[i::INT] <> ''
            ), lw AS (
              SELECT lang, word, COUNT(*)::BIGINT AS cnt
              FROM occ GROUP BY lang, word
            )
            {sel}
        """


def _pii_regexes() -> tuple[str, str]:
    """ONE definition (operators/text.py) so the oracle regex can never
    drift from the operator's. Imported lazily like every other package
    reference in this file — module import must not require the package
    on sys.path before a query/oracle call does."""
    from datafusion_geo_spark.operators.text import EMAIL_RE, PHONE_RE
    return EMAIL_RE, PHONE_RE


def _transform_utm_oracle() -> str:
    """DuckDB twin of _q_transform_utm: the identical Krüger forward
    chain (geo/proj.py TMGeneric on the UTM n³ literals, same constants,
    same term order), hyperbolics expanded via exp/ln (DuckDB has
    none), every literal ::DOUBLE-cast, compared at cm rounding (see
    _rb2)."""
    from datafusion_geo_spark.geo.proj import (A_TM, ALPHA_TM, K0_UTM,
                                               TT_TM)
    D = "0.017453292519943295::DOUBLE"          # DEG2RAD
    TT = f"{TT_TM!r}::DOUBLE"
    a1, a2, a3 = (f"{c!r}::DOUBLE" for c in ALPHA_TM)
    KA = f"({K0_UTM!r}::DOUBLE * {A_TM!r}::DOUBLE)"

    def atanh(x):
        return (f"(0.5::DOUBLE * ln((1.0::DOUBLE + {x}) "
                f"/ (1.0::DOUBLE - {x})))")

    def rb2(x):
        return (f"((CASE WHEN ({x}) < 0 THEN -1 ELSE 1 END) * "
                f"floor(abs({x}) * 100.0 + 0.5) / 100.0 + 0.0)")

    xi_terms = " + ".join(
        f"{a} * sin({2 * j} * xip) * ((exp({2 * j} * etap) "
        f"+ exp(-({2 * j} * etap))) * 0.5::DOUBLE)"
        for j, a in ((1, a1), (2, a2), (3, a3)))
    eta_terms = " + ".join(
        f"{a} * cos({2 * j} * xip) * ((exp({2 * j} * etap) "
        f"- exp(-({2 * j} * etap))) * 0.5::DOUBLE)"
        for j, a in ((1, a1), (2, a2), (3, a3)))
    return f"""
        WITH p AS (SELECT c_custkey,
                          (c_custkey % 50) / 10.0::DOUBLE
                            + 0.5::DOUBLE AS lon,
                          c_nationkey * 1.5::DOUBLE + 1.5::DOUBLE AS lat
                   FROM customer),
        c1 AS (SELECT c_custkey, lon * {D} - 3 * {D} AS lam,
                      sin(lat * {D}) AS sphi
               FROM p),
        c2 AS (SELECT c_custkey, lam,
                      {atanh('sphi')} - {TT} * {atanh(f'{TT} * sphi')} AS q
               FROM c1),
        c3 AS (SELECT c_custkey, lam,
                      (exp(q) - exp(-q)) * 0.5::DOUBLE AS t
               FROM c2),
        c4 AS (SELECT c_custkey, atan2(t, cos(lam)) AS xip,
                      {atanh('sin(lam) / sqrt(1.0::DOUBLE + t * t)')} AS etap
               FROM c3),
        c5 AS (SELECT c_custkey,
                      xip + {xi_terms} AS xi,
                      etap + {eta_terms} AS eta
               FROM c4)
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE {rb2(f'500000.0::DOUBLE + {KA} * eta')} END
                 AS easting,
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE {rb2(f'0.0::DOUBLE + {KA} * xi')} END AS northing,
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE 32631 END AS srid
        FROM c5
    """


def _unigram_ctes(rounds: int = 2, seed_multi_cap: int = 128,
                  vocab_multi_cap: int = 64) -> tuple:
    """Shared DuckDB twin of operators/unigram.py: the substring seed,
    then ``rounds`` hard-EM rounds, each one a recursive-CTE Viterbi
    DP carrying the same int64 best-score list (exact integer sums —
    segmentation is bit-deterministic), the same longest-piece walk
    tie rule (list_max over the matching backsteps), the same
    frequency-weighted recount / top-N prune / +1 char floor /
    micro-ln rescore. Returns (ctes_list, final_vocab_cte_name);
    callers must prefix the query with WITH RECURSIVE."""
    NEG = "(-1000000000000)"
    smicro = ("((CASE WHEN ({x}) < 0 THEN -1 ELSE 1 END) * "
              "floor(abs({x}) * 1000000.0 + 0.5))::BIGINT")
    lnx = "ln(cnt::DOUBLE / tot::DOUBLE)"
    score_sel = ("SELECT piece, cnt, "
                 + smicro.format(x=lnx)
                 + " AS score_micro FROM (SELECT piece, cnt, "
                 "SUM(cnt) OVER ()::BIGINT AS tot FROM {src})")
    ctes = [f"""
        u_dict AS MATERIALIZED (SELECT w, COUNT(*)::BIGINT AS n FROM (
                     SELECT unnest({_WORDS}) AS w FROM documents)
                   WHERE w <> '' AND len(w) <= 24 GROUP BY w)""", f"""
        u_seed AS MATERIALIZED (SELECT piece, SUM(n)::BIGINT AS cnt FROM (
                     SELECT unnest(flatten(list_transform(
                              range(1, len(w) + 1),
                              i -> list_transform(
                                range(1, least(4, len(w) - i + 1) + 1),
                                k -> substr(w, i, k))))) AS piece, n
                     FROM u_dict)
                   GROUP BY piece)""", f"""
        u_s0 AS MATERIALIZED (SELECT piece, cnt FROM u_seed WHERE len(piece) = 1
                 UNION ALL
                 SELECT piece, cnt FROM (
                   SELECT piece, cnt,
                          ROW_NUMBER() OVER (ORDER BY cnt DESC, piece)
                            AS rk
                   FROM u_seed WHERE len(piece) > 1)
                 WHERE rk <= {seed_multi_cap})""",
        "u_v0 AS MATERIALIZED (" + score_sel.format(src="u_s0") + ")"]

    def dp(r: int, vocab: str):
        """Viterbi (rec + walk) CTEs for round tag r over ``vocab``.
        Piece scores come from four hash LEFT JOINs per step (guarded
        by pos+1 >= k in the ON clause) — a MAP literal would be O(|V|)
        per lookup in DuckDB and dominated the replay."""
        rec_joins = "\n".join(
            f"          LEFT JOIN {vocab} v{k} ON r.pos + 1 >= {k} "
            f"AND v{k}.piece = substr(r.w, r.pos + 2 - {k}, {k})"
            for k in range(1, 5))
        cands = ", ".join(
            f"CASE WHEN r.pos + 1 >= {k} THEN "
            f"r.bests[r.pos + 2 - {k}] "
            f"+ COALESCE(v{k}.score_micro, {NEG}) "
            f"ELSE {NEG} END" for k in range(1, 5))
        walk_joins = "\n".join(
            f"            LEFT JOIN {vocab} v{k} ON wk.pos >= {k} "
            f"AND v{k}.piece = substr(wk.w, wk.pos - {k} + 1, {k})"
            for k in range(2, 5))
        # longest matching backstep first — the Spark when-chain
        kstar = " ".join(
            f"WHEN pos >= {k} AND bests[pos - {k} + 1] + s{k} "
            f"= bests[pos + 1] THEN {k}"
            for k in (4, 3, 2))
        return [f"""
        u_rec{r}(w, n, pos, bests) AS (
          SELECT w, n, 0, [CAST(0 AS BIGINT)] FROM u_dict
          UNION ALL
          SELECT r.w, r.n, r.pos + 1,
                 list_append(r.bests, GREATEST({cands}))
          FROM u_rec{r} r
{rec_joins}
          WHERE r.pos < len(r.w))""", f"""
        u_fb{r} AS MATERIALIZED (SELECT w, n, bests FROM u_rec{r}
                    WHERE pos = len(w))""", f"""
        u_walk{r}(w, n, pos, parts) AS (
          SELECT w, n, len(w), CAST([] AS VARCHAR[]) FROM u_fb{r}
          UNION ALL
          SELECT w, n, pos - kstar,
                 list_append(parts, substr(w, pos - kstar + 1, kstar))
          FROM (
            SELECT t.*, CASE {kstar} ELSE 1 END AS kstar FROM (
              SELECT wk.w, wk.n, wk.pos, wk.parts, fb.bests,
                     {", ".join(
                         f"COALESCE(v{k}.score_micro, {NEG}) AS s{k}"
                         for k in range(2, 5))}
              FROM u_walk{r} wk JOIN u_fb{r} fb USING (w)
{walk_joins}
              WHERE wk.pos > 0) t) s)"""]

    prev = "u_v0"
    for r in range(1, rounds + 1):
        ctes += dp(r, prev)
        ctes += [f"""
        u_pc{r} AS MATERIALIZED (SELECT piece, SUM(n)::BIGINT AS vc FROM (
                      SELECT unnest(parts) AS piece, n
                      FROM u_walk{r} WHERE pos = 0)
                    GROUP BY piece)""", f"""
        u_kc{r} AS MATERIALIZED (SELECT c.piece,
                           (COALESCE(p.vc, 0) + 1)::BIGINT AS cnt
                    FROM (SELECT piece FROM {prev}
                          WHERE len(piece) = 1) c
                    LEFT JOIN u_pc{r} p USING (piece))""", f"""
        u_km{r} AS MATERIALIZED (SELECT piece, vc AS cnt FROM (
                      SELECT piece, vc,
                             ROW_NUMBER() OVER (ORDER BY vc DESC,
                                                piece) AS rk
                      FROM u_pc{r} WHERE len(piece) > 1)
                    WHERE rk <= {vocab_multi_cap})""",
            f"u_v{r} AS MATERIALIZED (" + score_sel.format(
                src=f"(SELECT * FROM u_kc{r} "
                    f"UNION ALL SELECT * FROM u_km{r})") + ")"]
        prev = f"u_v{r}"
    # one more DP with the FINAL vocab, for encode-side oracles
    ctes += dp(rounds + 1, prev)
    return ctes, prev


def _unigram_oracles(rounds: int = 2, seed_multi_cap: int = 128,
                     vocab_multi_cap: int = 64) -> dict:
    ctes, final = _unigram_ctes(rounds, seed_multi_cap, vocab_multi_cap)
    body = "WITH RECURSIVE " + ",".join(ctes)
    vocab_sql = (body
                 + f" SELECT piece, cnt, score_micro FROM {final}")
    fert_sql = body + f""",
        u_wt AS MATERIALIZED (SELECT w, len(parts)::BIGINT AS wtoks,
                        len(w)::BIGINT AS wchars
                 FROM u_walk{rounds + 1} WHERE pos = 0),
        u_cw AS (SELECT lang, w FROM (
                   SELECT lang, unnest({_WORDS}) AS w FROM documents)
                 WHERE w <> '' AND len(w) <= 24)
        SELECT lang, COUNT(*)::BIGINT AS n_words,
               SUM(wtoks)::BIGINT AS n_tokens,
               SUM(wchars)::BIGINT AS n_chars,
               (((2000000 * SUM(wtoks) + COUNT(*))
                 // (2 * COUNT(*)))::BIGINT / 1000000.0) AS fertility
        FROM u_cw JOIN u_wt USING (w) GROUP BY lang
    """
    return {"unigram_vocab": vocab_sql, "unigram_fertility": fert_sql}


def _vincenty_oracle(iters: int = 8) -> str:
    """DuckDB twin of _q_distance_spheroid: the Vincenty inverse
    (geo/proj.py vincenty_m, WGS84) with the λ iteration unrolled
    ``iters`` times as stacked CTEs — every stage the same expression,
    operand order, and repr'd ellipsoid constants as the Python
    kernel; all functions (sin/cos/tan/atan/atan2/sqrt) native libm on
    both engines, so the doubles match bit-for-bit before the shared
    6-dp binary rounding."""
    from datafusion_geo_spark.geo.proj import DEG2RAD, WGS84
    D = f"({DEG2RAD!r}::DOUBLE)"
    FV = f"({WGS84.f!r}::DOUBLE)"
    AV = f"({WGS84.a!r}::DOUBLE)"
    BV = f"({WGS84.b!r}::DOUBLE)"
    ctes = [f"""
        p AS (SELECT c_custkey,
                     CASE WHEN c_custkey % 7 = 0 THEN NULL
                          ELSE (c_custkey % 360 - 180)::DOUBLE END AS x,
                     (c_nationkey * 3)::DOUBLE - 37.5 AS y
              FROM customer)""", f"""
        q0 AS (SELECT c_custkey, x,
                      atan((1.0 - {FV}) * tan(y * {D})) AS ru1,
                      atan((1.0 - {FV}) * tan((y + 0.5) * {D})) AS ru2,
                      ((x + 0.5) - x) * {D} AS bl
               FROM p)""", f"""
        q1 AS (SELECT c_custkey, x, bl,
                      sin(ru1) AS su1, cos(ru1) AS cu1,
                      sin(ru2) AS su2, cos(ru2) AS cu2,
                      bl AS lam
               FROM q0)"""]
    prev = "q1"
    for k in range(1, iters + 1):
        last = (k == iters)
        ctes.append(f"""
        i{k}a AS (SELECT *, sin(lam) AS sl, cos(lam) AS cl
                  FROM {prev})""")
        ctes.append(f"""
        i{k}b AS (SELECT *,
                         sqrt((cu2 * sl) * (cu2 * sl)
                              + (cu1 * su2 - su1 * cu2 * cl)
                                * (cu1 * su2 - su1 * cu2 * cl)) AS ssig,
                         su1 * su2 + cu1 * cu2 * cl AS csig
                  FROM i{k}a)""")
        ctes.append(f"""
        i{k}c AS (SELECT *, atan2(ssig, csig) AS sig,
                         cu1 * cu2 * sl / ssig AS sina
                  FROM i{k}b)""")
        ctes.append(f"""
        i{k}d AS (SELECT *, 1.0 - sina * sina AS cos2a FROM i{k}c)""")
        ctes.append(f"""
        i{k}e AS (SELECT *,
                         CASE WHEN cos2a <> 0.0
                              THEN csig - 2.0 * su1 * su2 / cos2a
                              ELSE 0.0 END AS c2sm,
                         ({FV} / 16.0) * cos2a
                           * (4.0 + {FV} * (4.0 - 3.0 * cos2a)) AS cc
                  FROM i{k}d)""")
        if not last:
            ctes.append(f"""
        i{k}f AS (SELECT c_custkey, x, bl, su1, cu1, su2, cu2,
                         bl + (1.0 - cc) * {FV} * sina
                            * (sig + cc * ssig * (c2sm + cc * csig
                               * (-1.0 + 2.0 * c2sm * c2sm))) AS lam
                  FROM i{k}e)""")
            prev = f"i{k}f"
    ctes.append(f"""
        g1 AS (SELECT *,
                      (cos2a * ({AV} * {AV} - {BV} * {BV}))
                        / ({BV} * {BV}) AS usq
               FROM i{iters}e)""")
    ctes.append("""
        g2 AS (SELECT *,
                      1.0 + usq / 16384.0 * (4096.0 + usq
                         * (-768.0 + usq * (320.0 - 175.0 * usq))) AS aa,
                      usq / 1024.0 * (256.0 + usq
                         * (-128.0 + usq * (74.0 - 47.0 * usq))) AS bb
               FROM g1)""")
    ctes.append("""
        g3 AS (SELECT *,
                      bb * ssig * (c2sm + bb / 4.0
                         * (csig * (-1.0 + 2.0 * c2sm * c2sm)
                            - bb / 6.0 * c2sm
                              * (-3.0 + 4.0 * ssig * ssig)
                              * (-3.0 + 4.0 * c2sm * c2sm))) AS dsig
               FROM g2)""")
    return "WITH" + ",".join(ctes) + f"""
        SELECT c_custkey,
               CASE WHEN x IS NULL THEN NULL ELSE
                 {_rb6_sql(f"{BV} * aa * (sig - dsig)")}
               END AS dist_m
        FROM g3
    """


def _mauve_oracle(n_centroids: int = 8, iters: int = 2,
                  dim: int = 64, grid: int = 20,
                  c: float = 5.0) -> str:
    """DuckDB twin of _q_mauve_eval: shared k-means replay
    (_kmeans_ctes), the same even/odd split + dim-1 drift, argmax-
    cosine assignment (6-dp rounded, ties to lowest cid), exact int64
    histograms, per-(cluster, λ) micro-rounded KL terms, micro-int
    curve points with (1,0)/(0,1) anchors, and the exact int64
    doubled-scaled trapezoid AUC."""
    r6 = ("((CASE WHEN ({x}) < 0 THEN -1 ELSE 1 END) * "
          "floor(abs({x}) * 1000000.0 + 0.5) / 1000000.0 + 0.0)")
    sm = ("((CASE WHEN ({x}) < 0 THEN -1 ELSE 1 END) * "
          "floor(abs({x}) * 1000000.0 + 0.5))::BIGINT")
    cs = r6.format(x="list_cosine_similarity(u.v, c.cvec)")
    p = "(np::DOUBLE / n_p::DOUBLE)"
    q = "(nq::DOUBLE / n_q::DOUBLE)"
    r = f"((j / {float(grid)!r}) * {p} + (1.0 - j / {float(grid)!r}) * {q})"
    ctes = _kmeans_ctes(n_centroids, iters, dim)
    return "WITH " + ",".join(ctes) + f""",
        u AS (SELECT 0 AS side, vec_id, v FROM vecs
              WHERE vec_id % 2 = 0
              UNION ALL
              SELECT 1 AS side, vec_id,
                     list_concat([v[1] + 0.75::DOUBLE], v[2:]) AS v
              FROM vecs WHERE vec_id % 2 = 1),
        sc AS (SELECT u.side, u.vec_id, c.cid, {cs} AS cs
               FROM u, c{iters} c),
        asg AS (SELECT side, cid FROM (
                  SELECT side, vec_id, cid,
                         ROW_NUMBER() OVER (PARTITION BY side, vec_id
                            ORDER BY cs DESC, cid) AS rn
                  FROM sc) WHERE rn = 1),
        hist AS (SELECT cid,
                        SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END)::BIGINT
                          AS np,
                        SUM(side)::BIGINT AS nq
                 FROM asg GROUP BY cid),
        hist2 AS (SELECT cid, np, nq,
                         SUM(np) OVER ()::BIGINT AS n_p,
                         SUM(nq) OVER ()::BIGINT AS n_q,
                         COUNT(*) OVER ()::BIGINT AS k_clusters
                  FROM hist),
        hj AS (SELECT h.*, g.j FROM hist2 h,
                    generate_series(1, {grid - 1}) AS g(j)),
        t AS (SELECT j, n_p, n_q, k_clusters,
                     CASE WHEN np > 0
                          THEN {sm.format(x=f"{p} * ln({p} / {r})")}
                          ELSE 0 END AS tp,
                     CASE WHEN nq > 0
                          THEN {sm.format(x=f"{q} * ln({q} / {r})")}
                          ELSE 0 END AS tq
              FROM hj),
        kl AS (SELECT j, n_p, n_q, k_clusters,
                      SUM(tp)::BIGINT AS klp, SUM(tq)::BIGINT AS klq
               FROM t GROUP BY j, n_p, n_q, k_clusters),
        pts AS (SELECT j, n_p, n_q, k_clusters,
                       floor(exp(-{c!r} * klq / 1000000.0)
                             * 1000000.0 + 0.5)::BIGINT AS xm,
                       floor(exp(-{c!r} * klp / 1000000.0)
                             * 1000000.0 + 0.5)::BIGINT AS ym
                FROM kl),
        segs AS (SELECT n_p, n_q, k_clusters,
                        (CASE WHEN lead(xm) OVER w IS NULL
                              THEN xm * (ym + 1000000)
                              ELSE (xm - lead(xm) OVER w)
                                   * (ym + lead(ym) OVER w) END
                         + CASE WHEN j = 1 THEN (1000000 - xm) * ym
                                ELSE 0 END) AS s
                 FROM pts WINDOW w AS (ORDER BY j))
        SELECT n_p, n_q, k_clusters,
               SUM(s)::BIGINT AS area2_scaled,
               {r6.format(x="SUM(s)::BIGINT / 2000000000000.0")} AS mauve
        FROM segs GROUP BY n_p, n_q, k_clusters
    """


def _rb2_sql(x: str) -> str:
    """DuckDB twin of _rb2 (sign * floor(|x|*100 + 0.5) / 100)."""
    return (f"((CASE WHEN ({x}) < 0 THEN -1 ELSE 1 END) * "
            f"floor(abs({x}) * 100.0 + 0.5) / 100.0 + 0.0)")


def _rb6_sql(x: str) -> str:
    """DuckDB twin of _rb6 (sign * floor(|x|*1e6 + 0.5) / 1e6)."""
    return (f"((CASE WHEN ({x}) < 0 THEN -1 ELSE 1 END) * "
            f"floor(abs({x}) * 1000000.0 + 0.5) / 1000000.0 + 0.0)")


_NYC_LONLAT = ("-74.6::DOUBLE + (c_custkey % 40) / 25.0::DOUBLE",
               "40.25::DOUBLE + (c_nationkey % 25) * 0.035::DOUBLE")


def _lcc_forward_sql(crs, lon: str, lat: str, fe_alias: str,
                     fn_alias: str, srid: int) -> str:
    """Snyder LCC-2SP forward as a DuckDB CTE chain, term-for-term the
    Python geo/proj.py LCC2SP.forward with the IDENTICAL repr'd
    projection constants — only libm ulps differ, far below the cm
    comparison rounding."""
    from datafusion_geo_spark.geo.proj import DEG2RAD, PI_4
    ell = crs.ell
    D = f"{DEG2RAD!r}::DOUBLE"
    QP = f"{PI_4!r}::DOUBLE"
    E = f"{ell.e!r}::DOUBLE"
    EH = f"{ell.e * 0.5!r}::DOUBLE"
    N = f"{crs.n!r}::DOUBLE"
    RF = f"{crs.RF!r}::DOUBLE"
    return f"""
        WITH p AS (SELECT c_custkey, {lon} AS lon, {lat} AS lat
                   FROM customer),
        c1 AS (SELECT c_custkey, lon * {D} AS lam, lat * {D} AS phi,
                      sin(lat * {D}) AS s
               FROM p),
        c2 AS (SELECT c_custkey,
                      {RF} * pow(tan({QP} - 0.5::DOUBLE * phi)
                        / pow((1.0::DOUBLE - {E} * s)
                              / (1.0::DOUBLE + {E} * s), {EH}), {N}) AS rho,
                      {N} * (lam - {crs.lon0!r}::DOUBLE) AS th
               FROM c1)
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE {_rb2_sql(f"{crs.fe!r}::DOUBLE + rho * sin(th)")}
               END AS {fe_alias},
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE {_rb2_sql(
                        f"{crs.fn!r}::DOUBLE + {crs.rho0!r}::DOUBLE"
                        f" - rho * cos(th)")}
               END AS {fn_alias},
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE {srid} END AS srid
        FROM c2
    """


def _albers_conus_oracle() -> str:
    """DuckDB twin of _q_albers_conus: Snyder 14-3/14-4 (authalic q),
    14-12 rho, same repr'd constants as geo/proj.py AlbersEA."""
    from datafusion_geo_spark.geo.proj import CRS_REGISTRY, DEG2RAD
    crs = CRS_REGISTRY[5070]
    ell = crs.ell
    D = f"{DEG2RAD!r}::DOUBLE"
    E = f"{ell.e!r}::DOUBLE"
    E2 = f"{ell.e2!r}::DOUBLE"
    K1 = f"{1.0 - ell.e2!r}::DOUBLE"
    K2 = f"{1.0 / (2.0 * ell.e)!r}::DOUBLE"
    N = f"{crs.n!r}::DOUBLE"
    AU = f"{crs.AU!r}::DOUBLE"
    C = f"{crs.C!r}::DOUBLE"
    return f"""
        WITH p AS (SELECT c_custkey,
                          -123.0::DOUBLE + (c_custkey % 56) AS lon,
                          25.5::DOUBLE + (c_nationkey % 25)
                            * 0.9::DOUBLE AS lat
                   FROM customer),
        c1 AS (SELECT c_custkey, lon * {D} AS lam,
                      sin(lat * {D}) AS s
               FROM p),
        c2 AS (SELECT c_custkey, lam,
                      {K1} * (s / (1.0::DOUBLE - {E2} * s * s)
                              - {K2} * ln((1.0::DOUBLE - {E} * s)
                                          / (1.0::DOUBLE + {E} * s))) AS q
               FROM c1),
        c3 AS (SELECT c_custkey,
                      {AU} * sqrt({C} - {N} * q) / {N} AS rho,
                      {N} * (lam - {crs.lon0!r}::DOUBLE) AS th
               FROM c2)
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE {_rb2_sql(f"{crs.fe!r}::DOUBLE + rho * sin(th)")}
               END AS x,
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE {_rb2_sql(
                        f"{crs.fn!r}::DOUBLE + {crs.rho0!r}::DOUBLE"
                        f" - rho * cos(th)")}
               END AS y,
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE 5070 END AS srid
        FROM c3
    """


def _laea_europe_oracle() -> str:
    """DuckDB twin of _q_laea_europe: Snyder §24 oblique LAEA via the
    authalic sphere — q (Snyder 3-12), β = asin(q/qp), the B/D chain —
    with every projection constant the repr of the same Python double
    (geo/proj.py LAEA), compared at cm rounding."""
    from datafusion_geo_spark.geo.proj import CRS_REGISTRY, DEG2RAD
    crs = CRS_REGISTRY[3035]
    ell = crs.ell
    D = f"{DEG2RAD!r}::DOUBLE"
    E = f"{ell.e!r}::DOUBLE"
    E2 = f"{ell.e2!r}::DOUBLE"
    K1 = f"{1.0 - ell.e2!r}::DOUBLE"
    K2 = f"{1.0 / (2.0 * ell.e)!r}::DOUBLE"
    QP = f"({crs.qp!r}::DOUBLE)"
    RQ = f"({crs.Rq!r}::DOUBLE)"
    SB1 = f"({crs.sb1!r}::DOUBLE)"
    CB1 = f"({crs.cb1!r}::DOUBLE)"
    DD = f"({crs.D!r}::DOUBLE)"
    LON0 = f"({crs.lon0!r}::DOUBLE)"
    return f"""
        WITH p AS (SELECT c_custkey,
                          -9.5::DOUBLE + (c_custkey % 41) AS lon,
                          35.4::DOUBLE + (c_nationkey % 25)
                            * 1.4::DOUBLE AS lat
                   FROM customer),
        c1 AS (SELECT c_custkey, lon * {D} - {LON0} AS dl,
                      sin(lat * {D}) AS s
               FROM p),
        c2 AS (SELECT c_custkey, dl,
                      asin(({K1} * (s / (1.0::DOUBLE - {E2} * s * s)
                              - {K2} * ln((1.0::DOUBLE - {E} * s)
                                          / (1.0::DOUBLE + {E} * s))))
                           / {QP}) AS b
               FROM c1),
        c3 AS (SELECT c_custkey, dl, sin(b) AS sb, cos(b) AS cb
               FROM c2),
        c4 AS (SELECT c_custkey, dl, sb, cb,
                      {RQ} * sqrt(2.0::DOUBLE
                        / (1.0::DOUBLE + {SB1} * sb
                           + {CB1} * cb * cos(dl))) AS bb
               FROM c3)
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE {_rb2_sql(
                        f"{crs.fe!r}::DOUBLE + bb * {DD} * cb * sin(dl)")}
               END AS x,
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE {_rb2_sql(
                        f"{crs.fn!r}::DOUBLE + (bb / {DD})"
                        f" * ({CB1} * sb - {SB1} * cb * cos(dl))")}
               END AS y,
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE 3035 END AS srid
        FROM c4
    """


def _osgb_grid_oracle() -> str:
    """DuckDB twin of _q_osgb_grid — the full datum-shifted chain:
    WGS84 geodetic -> ECEF -> 7-param Helmert (position vector) ->
    Bowring inverse on Airy 1830 -> Krüger TM (alpha to n^4).
    Hyperbolics expanded via exp/ln, atanh via 0.5*ln((1+x)/(1-x));
    every projection/datum constant is the repr of the same Python
    double (geo/proj.py TMGeneric + Helmert)."""
    from datafusion_geo_spark.geo.proj import (AIRY1830, CRS_REGISTRY,
                                               DEG2RAD, WGS84, _OSGB36)
    crs = CRS_REGISTRY[27700]
    D = f"{DEG2RAD!r}::DOUBLE"
    AW = f"{WGS84.a!r}::DOUBLE"
    E2W = f"{WGS84.e2!r}::DOUBLE"
    K1W = f"{1.0 - WGS84.e2!r}::DOUBLE"
    tx, ty, tz, rx, ry, rz, ds = _OSGB36.p
    K = f"{1.0 + ds!r}::DOUBLE"
    AA = f"{AIRY1830.a!r}::DOUBLE"
    BA = f"{AIRY1830.b!r}::DOUBLE"
    E2A = f"{AIRY1830.e2!r}::DOUBLE"
    EP2A = f"{AIRY1830.ep2!r}::DOUBLE"
    EA = f"{AIRY1830.e!r}::DOUBLE"
    KA = f"{crs.KA!r}::DOUBLE"
    a1, a2, a3, a4 = (f"{c!r}::DOUBLE" for c in AIRY1830.alpha)

    def atanh(x):
        return (f"(0.5::DOUBLE * ln((1.0::DOUBLE + {x}) "
                f"/ (1.0::DOUBLE - {x})))")

    xi_terms = " + ".join(
        f"{a} * sin({2 * j} * xip) * ((exp({2 * j} * etap) "
        f"+ exp(-({2 * j} * etap))) * 0.5::DOUBLE)"
        for j, a in ((1, a1), (2, a2), (3, a3), (4, a4)))
    eta_terms = " + ".join(
        f"{a} * cos({2 * j} * xip) * ((exp({2 * j} * etap) "
        f"- exp(-({2 * j} * etap))) * 0.5::DOUBLE)"
        for j, a in ((1, a1), (2, a2), (3, a3), (4, a4)))
    return f"""
        WITH p AS (SELECT c_custkey,
                          (-6.8::DOUBLE + (c_custkey % 80)
                             / 10.0::DOUBLE) * {D} AS lam,
                          (50.2::DOUBLE + (c_nationkey % 25)
                             * 0.42::DOUBLE) * {D} AS phi
                   FROM customer),
        e1 AS (SELECT c_custkey, lam, sin(phi) AS s, cos(phi) AS c
               FROM p),
        e2 AS (SELECT c_custkey, lam, s, c,
                      {AW} / sqrt(1.0::DOUBLE - {E2W} * s * s) AS nu
               FROM e1),
        e3 AS (SELECT c_custkey,
                      nu * c * cos(lam) AS gx,
                      nu * c * sin(lam) AS gy,
                      nu * {K1W} * s AS gz
               FROM e2),
        h AS (SELECT c_custkey,
                     ({tx!r}::DOUBLE) + {K} * (gx - ({rz!r}::DOUBLE) * gy
                        + ({ry!r}::DOUBLE) * gz) AS hx,
                     ({ty!r}::DOUBLE) + {K} * (({rz!r}::DOUBLE) * gx + gy
                        - ({rx!r}::DOUBLE) * gz) AS hy,
                     ({tz!r}::DOUBLE) + {K} * (-({ry!r}::DOUBLE) * gx
                        + ({rx!r}::DOUBLE) * gy + gz) AS hz
              FROM e3),
        b1 AS (SELECT c_custkey, hx, hy, hz,
                      sqrt(hx * hx + hy * hy) AS pp
               FROM h),
        b2 AS (SELECT c_custkey, hx, hy, hz, pp,
                      sin(atan2(hz * {AA}, pp * {BA})) AS st,
                      cos(atan2(hz * {AA}, pp * {BA})) AS ct
               FROM b1),
        b3 AS (SELECT c_custkey,
                      atan2(hz + {EP2A} * {BA} * st * st * st,
                            pp - {E2A} * {AA} * ct * ct * ct) AS phi2,
                      atan2(hy, hx) AS lon2
               FROM b2),
        t1 AS (SELECT c_custkey, lon2 - {crs.lon0!r}::DOUBLE AS lam2,
                      sin(phi2) AS s2
               FROM b3),
        t2 AS (SELECT c_custkey, lam2,
                      {atanh('s2')} - {EA} * {atanh(f'{EA} * s2')} AS qq
               FROM t1),
        t3 AS (SELECT c_custkey, lam2,
                      (exp(qq) - exp(-qq)) * 0.5::DOUBLE AS tt
               FROM t2),
        t4 AS (SELECT c_custkey, atan2(tt, cos(lam2)) AS xip,
                      {atanh('sin(lam2) / sqrt(1.0::DOUBLE + tt * tt)')}
                        AS etap
               FROM t3),
        t5 AS (SELECT c_custkey,
                      xip + {xi_terms} AS xi,
                      etap + {eta_terms} AS eta
               FROM t4)
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE {_rb2_sql(f"{crs.fe!r}::DOUBLE + {KA} * eta")}
               END AS easting,
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE {_rb2_sql(f"{crs.fn!r}::DOUBLE + {KA} * xi")}
               END AS northing,
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE 27700 END AS srid
        FROM t5
    """


def _minhash_oracle() -> str:
    from datafusion_geo_spark.operators.dedup import (LSH_BANDS, LSH_ROWS,
                                                      MINHASH_P, NUM_HASHES,
                                                      hash_params)
    mins = ", ".join(
        f"min(({hash_params(i)[0]} * hh + {hash_params(i)[1]}) % {MINHASH_P}) AS mh{i}"
        for i in range(NUM_HASHES))
    bands = " OR ".join(
        "(" + " AND ".join(
            f"a.mh{b * LSH_ROWS + r} = b.mh{b * LSH_ROWS + r}"
            for r in range(LSH_ROWS)) + ")"
        for b in range(LSH_BANDS))
    eq = " + ".join(f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)"
                    for i in range(NUM_HASHES))
    corpus = _CORPUS.format(where="")
    h64 = _H64.format(arg="s")
    return f"""
        WITH corpus AS ({corpus}),
        words AS (SELECT doc_id, {_WORDS} AS w FROM corpus),
        sh AS (SELECT doc_id,
                      unnest(list_transform(range(len(w) - 2),
                             i -> array_to_string(list_slice(w, i + 1, i + 3), ' '))) AS s
               FROM words),
        h AS (SELECT doc_id, {h64} AS hh FROM sh),
        sig AS (SELECT doc_id, {mins} FROM h GROUP BY doc_id),
        cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                        ((CASE WHEN (({eq})::DOUBLE / {NUM_HASHES}) < 0 THEN -1 ELSE 1 END) * floor(abs(({eq})::DOUBLE / {NUM_HASHES}) * 1000000.0 + 0.5) / 1000000.0 + 0.0) AS est_sim
                 FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({bands}))
        SELECT id_a, id_b, est_sim FROM cand WHERE est_sim >= 0.5
    """


_VECS_EMB = """SELECT vec_id,
                      list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings"""


def _kmeans_ctes(n_centroids: int, iters: int, dim: int,
                 vecs_sql: str = _VECS_EMB,
                 train_vecs_sql: str = None) -> list:
    """Shared DuckDB twin of similarity.kmeans_centroids: seeds =
    smallest-md5(vec_id) vectors, then ``iters`` unrolled Lloyd rounds
    (argmax cosine rounded 6 dp, ties to lowest cid; per-dim AVG rounded
    6 dp — the rounding is what makes cross-engine summation order
    irrelevant). Returns CTE fragments ending with the trained centroid
    set ``c{iters}``; ``vecs_sql`` supplies the corpus as (vec_id, v).
    When ``train_vecs_sql`` is given, the k-means replay trains on THAT
    corpus (the shared-fit shape: fit once on the base corpus, apply to
    the query's own — e.g. copy-augmented — corpus); otherwise training
    and downstream use share ``vecs``.

    The Lloyd rounds run over ``ktrain`` — the TRAIN_SAMPLE_CAP rows of
    the training corpus with the smallest (md5(id), id) — exactly the
    bounded sample similarity._train_sample collects, so the replay
    stays bit-identical when a corpus exceeds the cap (r7 verdict item
    4; under the cap ktrain IS the corpus and the SQL is equivalent to
    the pre-r8 full-corpus form)."""
    from datafusion_geo_spark.operators.similarity import TRAIN_SAMPLE_CAP
    tv = "tvecs" if train_vecs_sql else "vecs"
    ctes = [f"vecs AS ({vecs_sql})"]
    if train_vecs_sql:
        ctes.append(f"tvecs AS ({train_vecs_sql})")
    ctes.append(f"""
        ktrain AS (SELECT vec_id, v FROM {tv}
                   ORDER BY md5(vec_id::VARCHAR), vec_id
                   LIMIT {TRAIN_SAMPLE_CAP})""")
    ctes.append(f"""
        c0 AS (SELECT cid::INT AS cid, cvec FROM (
                 SELECT (ROW_NUMBER() OVER (ORDER BY md5(vec_id::VARCHAR),
                                            vec_id) - 1) AS cid, v AS cvec
                 FROM ktrain) WHERE cid < {n_centroids})""")
    for it in range(1, iters + 1):
        ctes.append(f"""
        s{it} AS (SELECT a.vec_id, c.cid,
                         ((CASE WHEN (list_cosine_similarity(a.v, c.cvec)) < 0 THEN -1 ELSE 1 END) * floor(abs(list_cosine_similarity(a.v, c.cvec)) * 1000000.0 + 0.5) / 1000000.0 + 0.0) AS cs
                  FROM ktrain a, c{it - 1} c),
        a{it} AS (SELECT vec_id, cid FROM (
                    SELECT vec_id, cid,
                           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cs DESC, cid) AS rn
                    FROM s{it}) WHERE rn = 1),
        c{it} AS (SELECT cid, list(cx ORDER BY i) AS cvec FROM (
                    SELECT a.cid, g.i, ((CASE WHEN (AVG(b.v[g.i])) < 0 THEN -1 ELSE 1 END) * floor(abs(AVG(b.v[g.i])) * 1000000.0 + 0.5) / 1000000.0 + 0.0) AS cx
                    FROM a{it} a JOIN ktrain b USING (vec_id),
                         generate_series(1, {dim}) AS g(i)
                    GROUP BY a.cid, g.i) GROUP BY cid)""")
    return ctes


def _pq_oracle(m: int = 8, ksub: int = 16, iters: int = 2,
               max_query_id: int = 8, k: int = 10, dim: int = 64) -> str:
    """DuckDB twin of similarity.pq_train/encode/search: the subspace
    L2 Lloyd replay (all subspaces in one CTE chain, keyed by s), PQ
    codes from the trained books, then ADC inner-product scoring with
    per-entry micro-int rounding before the sum. The Lloyd chain trains
    on ``tsubs`` — subspaces of the TRAIN_SAMPLE_CAP-bounded md5-ordered
    sample, the exact rows similarity.pq_train collects — while encoding
    (``enc_s``) covers the FULL corpus, mirroring the engine (r7 verdict
    item 4)."""
    from datafusion_geo_spark.operators.similarity import TRAIN_SAMPLE_CAP
    d = dim // m
    r6 = ("((CASE WHEN ({x}) < 0 THEN -1 ELSE 1 END) * "
          "floor(abs({x}) * 1000000.0 + 0.5) / 1000000.0 + 0.0)")
    l2 = (f"list_sum(list_transform(generate_series(1, {d}), i -> "
          f"(a.sv[i] - c.cvec[i]) * (a.sv[i] - c.cvec[i])))")
    dp = (f"list_sum(list_transform(generate_series(1, {d}), i -> "
          f"q.qv[i] * c.cvec[i]))")
    sub = "list_slice(v, g.s * {d} + 1, g.s * {d} + {d})".format(d=d)
    ctes = [f"vecs AS ({_VECS_EMB})",
            f"""ptrain AS (SELECT vec_id, v FROM vecs
                 ORDER BY md5(vec_id::VARCHAR), vec_id
                 LIMIT {TRAIN_SAMPLE_CAP})""",
            f"""subs AS (SELECT vec_id, g.s, {sub} AS sv
                 FROM vecs, generate_series(0, {m - 1}) AS g(s))""",
            f"""tsubs AS (SELECT vec_id, g.s, {sub} AS sv
                 FROM ptrain, generate_series(0, {m - 1}) AS g(s))""",
            f"""c0 AS (SELECT g.s, cid::INT AS cid, {sub} AS cvec
                 FROM (SELECT (ROW_NUMBER() OVER (
                                 ORDER BY md5(vec_id::VARCHAR), vec_id)
                               - 1) AS cid, v
                       FROM ptrain) r,
                      generate_series(0, {m - 1}) AS g(s)
                 WHERE cid < {ksub})"""]
    for it in range(1, iters + 1):
        ctes.append(f"""
        s{it} AS (SELECT a.vec_id, a.s, c.cid,
                         {r6.format(x=l2)} AS d2
                  FROM tsubs a JOIN c{it - 1} c ON c.s = a.s),
        a{it} AS (SELECT vec_id, s, cid FROM (
                    SELECT vec_id, s, cid,
                           ROW_NUMBER() OVER (PARTITION BY vec_id, s
                              ORDER BY d2, cid) AS rn
                    FROM s{it}) WHERE rn = 1),
        c{it} AS (SELECT s, cid, list(cx ORDER BY i) AS cvec FROM (
                    SELECT a.s, a.cid, g.i,
                           {r6.format(x="AVG(b.sv[g.i])")} AS cx
                    FROM a{it} a
                    JOIN tsubs b ON b.vec_id = a.vec_id AND b.s = a.s,
                         generate_series(1, {d}) AS g(i)
                    GROUP BY a.s, a.cid, g.i) GROUP BY s, cid)""")
    fin = f"""
        enc_s AS (SELECT a.vec_id, a.s, c.cid,
                         {r6.format(x=l2)} AS d2
                  FROM subs a JOIN c{iters} c ON c.s = a.s),
        codes AS (SELECT vec_id, s, cid FROM (
                    SELECT vec_id, s, cid,
                           ROW_NUMBER() OVER (PARTITION BY vec_id, s
                              ORDER BY d2, cid) AS rn
                  FROM enc_s) WHERE rn = 1),
        qsubs AS (SELECT vec_id AS query_id, s, sv AS qv FROM subs
                  WHERE vec_id < {max_query_id}),
        tab AS (SELECT q.query_id, c.s, c.cid,
                       CAST((CASE WHEN ({r6.format(x=dp)}) < 0
                                  THEN -1 ELSE 1 END)
                            * floor(abs({r6.format(x=dp)}) * 1000000.0
                                    + 0.5) AS BIGINT) AS dp_micro
                FROM qsubs q JOIN c{iters} c ON c.s = q.s),
        scored AS (SELECT t.query_id, e.vec_id AS neighbor_id,
                          CAST(SUM(t.dp_micro) AS BIGINT) AS score_micro
                   FROM codes e
                   JOIN tab t ON t.s = e.s AND t.cid = e.cid
                   WHERE t.query_id != e.vec_id
                   GROUP BY t.query_id, e.vec_id)
        SELECT query_id, neighbor_id, score_micro, rank::INT AS rank FROM (
          SELECT query_id, neighbor_id, score_micro,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY score_micro DESC, neighbor_id) AS rank
          FROM scored) WHERE rank <= {k}"""
    return "WITH " + ",".join(ctes) + "," + fin


def _ivf_trained_oracle(n_centroids: int = 8, iters: int = 2,
                        nprobe: int = 2, max_query_id: int = 8,
                        k: int = 10, dim: int = 64) -> str:
    """DuckDB twin of similarity.kmeans_centroids + ivf_topk(trained):
    the shared k-means replay (:func:`_kmeans_ctes`), then the standard
    IVF probe/search. ``dim`` is the fixture's embedding length (64)."""
    ctes = _kmeans_ctes(n_centroids, iters, dim)
    fin = f"""
        scored AS (SELECT a.vec_id, c.cid,
                          ((CASE WHEN (list_cosine_similarity(a.v, c.cvec)) < 0 THEN -1 ELSE 1 END) * floor(abs(list_cosine_similarity(a.v, c.cvec)) * 1000000.0 + 0.5) / 1000000.0 + 0.0) AS cs
                   FROM vecs a, c{iters} c),
        assign AS (SELECT vec_id, cid FROM (
                     SELECT vec_id, cid,
                            ROW_NUMBER() OVER (PARTITION BY vec_id
                               ORDER BY cs DESC, cid) AS rn
                     FROM scored) WHERE rn = 1),
        probes AS (SELECT vec_id AS query_id, cid FROM (
                     SELECT vec_id, cid,
                            ROW_NUMBER() OVER (PARTITION BY vec_id
                               ORDER BY cs DESC, cid) AS rn
                     FROM scored WHERE vec_id < {max_query_id})
                   WHERE rn <= {nprobe}),
        vb AS (SELECT vecs.vec_id, v, assign.cid
               FROM vecs JOIN assign ON vecs.vec_id = assign.vec_id),
        pairs AS (SELECT p.query_id, c.vec_id AS neighbor_id,
                         ((CASE WHEN (list_cosine_similarity(q.v, c.v)) < 0 THEN -1 ELSE 1 END) * floor(abs(list_cosine_similarity(q.v, c.v)) * 1000000.0 + 0.5) / 1000000.0 + 0.0) AS sim
                  FROM probes p
                  JOIN vb q ON q.vec_id = p.query_id
                  JOIN vb c ON c.cid = p.cid
                  WHERE c.vec_id != p.query_id)
        SELECT query_id, neighbor_id, sim, rank::INT AS rank FROM (
          SELECT query_id, neighbor_id, sim,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, neighbor_id) AS rank
          FROM pairs) WHERE rank <= {k}"""
    return "WITH " + ",".join(ctes) + "," + fin


def _ridge_ctes(ridge: int = 1, k: int = 4) -> list:
    """Shared DuckDB twin of operators.mlfit: integer feature rows,
    ONE exact-int64 Gram/moment aggregate, then the driver's Gaussian
    elimination unrolled as scalar CTEs — the SAME operation schedule
    as mlfit.solve_spd_r6 (round6 after every arithmetic result), so
    the replayed weights are bit-identical. Ends with CTE ``wts``
    holding w0..w{k-1}."""
    r6 = ("((CASE WHEN ({x}) < 0 THEN -1 ELSE 1 END) * "
          "floor(abs({x}) * 1000000.0 + 0.5) / 1000000.0 + 0.0)")
    K = k  # rhs column index in the augmented matrix
    ctes = [f"""feats AS (
            SELECT doc_id, length(text)::BIGINT AS y,
                   1::BIGINT AS x0, len(w)::BIGINT AS x1,
                   len(list_filter(w, t -> length(t) <= 3))::BIGINT AS x2,
                   len(list_filter(w, t -> length(t) >= 8))::BIGINT AS x3
            FROM (SELECT doc_id, text, {_WORDS} AS w FROM documents))"""]
    sums = []
    for i in range(k):
        for j in range(i, k):
            sums.append(f"SUM(x{i} * x{j})::BIGINT AS g{i}{j}")
    for i in range(k):
        sums.append(f"SUM(x{i} * y)::BIGINT AS b{i}")
    ctes.append("gram AS (SELECT " + ", ".join(sums) + " FROM feats)")
    init = []
    for i in range(k):
        for j in range(k):
            g = f"g{min(i, j)}{max(i, j)}"
            expr = f"({g} + {ridge})" if i == j else g
            init.append(f"{expr}::DOUBLE AS a{i}{j}")
        init.append(f"b{i}::DOUBLE AS a{i}{K}")
    ctes.append("e0 AS (SELECT " + ", ".join(init) + " FROM gram)")
    step = 0
    for p in range(k):
        fcols = [f"{r6.format(x=f'a{i}{p} / a{p}{p}')} AS f{i}"
                 for i in range(p + 1, k)]
        if not fcols:
            continue
        ctes.append(f"f{p} AS (SELECT *, " + ", ".join(fcols)
                    + f" FROM e{step})")
        upd = []
        for i in range(k):
            for j in range(k + 1):
                if i > p and j >= p:
                    inner = r6.format(x=f"f{i} * a{p}{j}")
                    upd.append(f"{r6.format(x=f'a{i}{j} - {inner}')} "
                               f"AS a{i}{j}")
                else:
                    upd.append(f"a{i}{j}")
        ctes.append(f"e{step + 1} AS (SELECT " + ", ".join(upd)
                    + f" FROM f{p})")
        step += 1
    prev = f"e{step}"
    for i in range(k - 1, -1, -1):
        acc = f"a{i}{K}"
        for j in range(i + 1, k):
            inner = r6.format(x=f"a{i}{j} * w{j}")
            acc = r6.format(x=f"{acc} - {inner}")
        ctes.append(f"w{i}c AS (SELECT *, "
                    + r6.format(x=f"({acc}) / a{i}{i}")
                    + f" AS w{i} FROM {prev})")
        prev = f"w{i}c"
    ctes.append(f"wts AS (SELECT "
                + ", ".join(f"w{i}" for i in range(k))
                + f" FROM {prev})")
    return ctes


def _ridge_weights_oracle() -> str:
    names = ["bias", "n_words", "n_short", "n_long"]
    sel = " UNION ALL ".join(
        f"SELECT {i} AS feature_idx, '{names[i]}' AS feature, "
        f"w{i} AS weight FROM wts" for i in range(4))
    return "WITH " + ",".join(_ridge_ctes()) + " " + sel


def _ridge_score_oracle() -> str:
    r6 = ("((CASE WHEN ({x}) < 0 THEN -1 ELSE 1 END) * "
          "floor(abs({x}) * 1000000.0 + 0.5) / 1000000.0 + 0.0)")
    micro = ("(CASE WHEN ({x}) < 0 THEN -1 ELSE 1 END) * "
             "CAST(floor(abs({x}) * 1000000.0 + 0.5) AS BIGINT)")
    yhat = "w0 * x0 + w1 * x1 + w2 * x2 + w3 * x3"
    ym = micro.format(x=r6.format(x=yhat))
    return ("WITH " + ",".join(_ridge_ctes()) + f"""
        SELECT doc_id, y, {ym} AS yhat_micro,
               (y * 1000000 - ({ym}))::BIGINT AS resid_micro
        FROM feats, wts""")


def _hll_setops_oracle() -> str:
    """DuckDB twin of sketch.hll_set_ops over the two user cohorts:
    per-side register/agg/est chains (the corrected dense+empty
    indicator sum), union registers by grouped MAX over the UNION ALL
    of both tables, inclusion-exclusion intersection."""
    r6 = ("((CASE WHEN ({x}) < 0 THEN -1 ELSE 1 END) * "
          "floor(abs({x}) * 1000000.0 + 0.5) / 1000000.0 + 0.0)")
    raw = ("(47072.71267120224::DOUBLE * 33554432.0::DOUBLE "
           "/ CAST(z_{s} + (256 - n_{s}) * 33554432 AS DOUBLE))")
    est = ("CASE WHEN {raw} <= 640.0 AND (256 - n_{s}) > 0 "
           "THEN 256.0 * ln(256.0 / CAST(256 - n_{s} AS DOUBLE)) "
           "ELSE {raw} END")
    ctes = []
    for s, pred in (("a", "user_id % 10 < 6"), ("b", "user_id % 10 >= 3")):
        ctes.append(f"""
        h_{s} AS (SELECT ('0x' || substr(md5(
                    'hll0|' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                    AS hv
                  FROM events WHERE user_id IS NOT NULL AND {pred}),
        regs_{s} AS (SELECT hv % 256 AS register,
                            MAX(CASE WHEN hv // 256 > 0
                                     THEN 25 - length(bin(hv // 256))
                                     ELSE 25 END) AS rho
                     FROM h_{s} GROUP BY hv % 256)""")
    ctes.append("""
        regs_u AS (SELECT register, MAX(rho) AS rho FROM (
                     SELECT * FROM regs_a UNION ALL SELECT * FROM regs_b)
                   GROUP BY register)""")
    for s in ("a", "b", "u"):
        ctes.append(f"""
        agg_{s} AS (SELECT COUNT(*)::BIGINT AS n_{s},
                           SUM(CAST(pow(2.0, 25 - rho) AS BIGINT))::BIGINT
                             AS z_{s}
                    FROM regs_{s}),
        est_{s} AS (SELECT n_{s}, z_{s},
                           {r6.format(x=est.format(raw=raw.format(s=s), s=s))}
                             AS e_{s}
                    FROM agg_{s})""")
    inter = r6.format(x="(e_a + e_b) - e_u")
    return ("WITH " + ",".join(ctes) + f"""
        SELECT n_a AS n_reg_a, z_a, e_a AS est_a,
               n_b AS n_reg_b, z_b, e_b AS est_b,
               n_u AS n_reg_u, z_u AS z_u, e_u AS est_union,
               {inter} AS est_inter
        FROM est_a, est_b, est_u""")


def _ridge_monitor_oracle() -> str:
    """DuckDB twin of streaming.score.streaming_ridge_monitor: the
    ridge elimination chain (shared :func:`_ridge_ctes`), then the
    per-language serving aggregate over a lang-carrying feature CTE —
    the bounded streaming replay equals this batch SQL exactly."""
    r6 = ("((CASE WHEN ({x}) < 0 THEN -1 ELSE 1 END) * "
          "floor(abs({x}) * 1000000.0 + 0.5) / 1000000.0 + 0.0)")
    micro = ("(CASE WHEN ({x}) < 0 THEN -1 ELSE 1 END) * "
             "CAST(floor(abs({x}) * 1000000.0 + 0.5) AS BIGINT)")
    yhat = "w0 * x0 + w1 * x1 + w2 * x2 + w3 * x3"
    ym = micro.format(x=r6.format(x=yhat))
    sfeats = f"""sfeats AS (
            SELECT doc_id, lang, length(text)::BIGINT AS y,
                   1::BIGINT AS x0, len(w)::BIGINT AS x1,
                   len(list_filter(w, t -> length(t) <= 3))::BIGINT AS x2,
                   len(list_filter(w, t -> length(t) >= 8))::BIGINT AS x3
            FROM (SELECT doc_id, lang, text, {_WORDS} AS w
                  FROM documents))"""
    return ("WITH " + ",".join(_ridge_ctes()) + "," + sfeats + f"""
        SELECT lang, COUNT(*)::BIGINT AS n_docs,
               SUM({ym})::BIGINT AS yhat_micro_sum,
               SUM(y * 1000000 - ({ym}))::BIGINT AS resid_micro_sum
        FROM sfeats, wts GROUP BY lang""")


def _logreg_oracle(iters: int = 3, lr: str = "0.5::DOUBLE",
                   scale: str = "100.0::DOUBLE", k: int = 4) -> str:
    """DuckDB twin of mlfit.logreg_fit: integer features + 0/1 label,
    then ``iters`` unrolled full-batch GD rounds — per row the sigmoid
    error is r6'd and micro-int'ed per feature before the SUM (exact
    int64 gradients), per round the weight update replays the driver's
    r6-after-every-op schedule. exp() is the one libm-parity op (same
    contract as the bm25/tfidf ln)."""
    r6 = ("((CASE WHEN ({x}) < 0 THEN -1 ELSE 1 END) * "
          "floor(abs({x}) * 1000000.0 + 0.5) / 1000000.0 + 0.0)")
    micro = ("(CASE WHEN ({x}) < 0 THEN -1 ELSE 1 END) * "
             "CAST(floor(abs({x}) * 1000000.0 + 0.5) AS BIGINT)")
    ctes = [f"""feats AS (
            SELECT doc_id,
                   (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT
                       AS y01,
                   1::BIGINT AS x0, len(w)::BIGINT AS x1,
                   len(list_filter(w, t -> length(t) <= 3))::BIGINT AS x2,
                   len(list_filter(w, t -> length(t) >= 8))::BIGINT AS x3
            FROM (SELECT doc_id, lang, {_WORDS} AS w FROM documents))""",
            "nn AS (SELECT COUNT(*)::BIGINT AS n FROM feats)",
            "lw0 AS (SELECT " + ", ".join(
                f"0.0::DOUBLE AS w{j}" for j in range(k)) + ")"]
    zexpr = " + ".join(f"w{j} * (x{j} / {scale})" for j in range(k))
    for t in range(1, iters + 1):
        z = r6.format(x=zexpr)
        p = r6.format(x=f"1.0::DOUBLE / (1.0::DOUBLE + exp(-({z})))")
        gs = []
        for j in range(k):
            e = r6.format(x=f"(({p}) - y01) * (x{j} / {scale})")
            gs.append(f"SUM({micro.format(x=e)})::BIGINT AS g{j}")
        ctes.append(f"lg{t} AS (SELECT " + ", ".join(gs)
                    + f" FROM feats, lw{t - 1})")
        ups = []
        for j in range(k):
            gbar = r6.format(x=f"(g{j} / 1000000.0) / n")
            ups.append(r6.format(x=f"w{j} - {r6.format(x=f'{lr} * {gbar}')}")
                       + f" AS w{j}")
        ctes.append(f"lw{t} AS (SELECT " + ", ".join(ups)
                    + f" FROM lg{t}, lw{t - 1}, nn)")
    names = ["bias", "n_words", "n_short", "n_long"]
    sel = " UNION ALL ".join(
        f"SELECT {i} AS feature_idx, '{names[i]}' AS feature, "
        f"w{i} AS weight FROM lw{iters}" for i in range(k))
    return "WITH " + ",".join(ctes) + " " + sel


def _ivfpq_oracle(n_coarse: int = 8, coarse_iters: int = 2,
                  nprobe: int = 2, m: int = 8, ksub: int = 16,
                  pq_iters: int = 2, max_query_id: int = 8, k: int = 10,
                  dim: int = 64) -> str:
    """DuckDB twin of similarity.ivfpq_search (IVFADC): the shared
    coarse k-means replay (:func:`_kmeans_ctes`), argmax-cosine list
    assignment, exact residuals against the 6-dp coarse means, the PQ
    subspace-Lloyd replay RENAMED (p*/ps*/pa*) to coexist with the
    coarse chain, then probe-pruned ADC scoring with the coarse
    dot-term added — every micro-int identical to the Spark plan. The
    residual-PQ Lloyd chain trains on ``rtsubs`` — subspaces of the
    TRAIN_SAMPLE_CAP-bounded md5-ordered residual sample, the rows
    similarity.ivfpq_search's pq_train collects — while encoding
    (``enc``) covers all residuals (r7 verdict item 4)."""
    from datafusion_geo_spark.operators.similarity import TRAIN_SAMPLE_CAP \
        as _TRAIN_CAP
    d = dim // m
    r6 = ("((CASE WHEN ({x}) < 0 THEN -1 ELSE 1 END) * "
          "floor(abs({x}) * 1000000.0 + 0.5) / 1000000.0 + 0.0)")
    micro = ("(CASE WHEN ({x}) < 0 THEN -1 ELSE 1 END) * "
             "CAST(floor(abs({x}) * 1000000.0 + 0.5) AS BIGINT)")
    cos = "list_cosine_similarity(a.v, c.cvec)"
    l2 = (f"list_sum(list_transform(generate_series(1, {d}), i -> "
          f"(a.sv[i] - c.cvec[i]) * (a.sv[i] - c.cvec[i])))")
    qdot = (f"list_sum(list_transform(generate_series(1, {dim}), i -> "
            f"q.v[i] * c.cvec[i]))")
    qsub_dot = (f"list_sum(list_transform(generate_series(1, {d}), i -> "
                f"q.v[c.s * {d} + i] * c.cvec[i]))")
    ci = coarse_iters
    ctes = _kmeans_ctes(n_coarse, ci, dim)
    ctes.append(f"""
        kscored AS (SELECT a.vec_id, c.cid, {r6.format(x=cos)} AS cs
                    FROM vecs a, c{ci} c),
        kassign AS (SELECT vec_id, cid FROM (
                      SELECT vec_id, cid,
                             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cs DESC, cid) AS rn
                      FROM kscored) WHERE rn = 1),
        res AS (SELECT a.vec_id, ka.cid AS kcid,
                       list_transform(generate_series(1, {dim}),
                                      i -> a.v[i] - c.cvec[i]) AS rv
                FROM vecs a JOIN kassign ka USING (vec_id)
                     JOIN c{ci} c ON c.cid = ka.cid),
        rsubs AS (SELECT vec_id, g.s,
                         list_slice(rv, g.s * {d} + 1,
                                    g.s * {d} + {d}) AS sv
                  FROM res, generate_series(0, {m - 1}) AS g(s)),
        rtrain AS (SELECT vec_id, rv FROM res
                   ORDER BY md5(vec_id::VARCHAR), vec_id
                   LIMIT {_TRAIN_CAP}),
        rtsubs AS (SELECT vec_id, g.s,
                          list_slice(rv, g.s * {d} + 1,
                                     g.s * {d} + {d}) AS sv
                   FROM rtrain, generate_series(0, {m - 1}) AS g(s)),
        p0 AS (SELECT g.s, cid::INT AS cid,
                      list_slice(rv, g.s * {d} + 1,
                                 g.s * {d} + {d}) AS cvec
               FROM (SELECT (ROW_NUMBER() OVER (
                               ORDER BY md5(vec_id::VARCHAR), vec_id)
                             - 1) AS cid, rv
                     FROM rtrain) r,
                    generate_series(0, {m - 1}) AS g(s)
               WHERE cid < {ksub})""")
    for it in range(1, pq_iters + 1):
        ctes.append(f"""
        ps{it} AS (SELECT a.vec_id, a.s, c.cid, {r6.format(x=l2)} AS d2
                   FROM rtsubs a JOIN p{it - 1} c ON c.s = a.s),
        pa{it} AS (SELECT vec_id, s, cid FROM (
                     SELECT vec_id, s, cid,
                            ROW_NUMBER() OVER (PARTITION BY vec_id, s
                               ORDER BY d2, cid) AS rn
                     FROM ps{it}) WHERE rn = 1),
        p{it} AS (SELECT s, cid, list(cx ORDER BY i) AS cvec FROM (
                    SELECT a.s, a.cid, g.i,
                           {r6.format(x="AVG(b.sv[g.i])")} AS cx
                    FROM pa{it} a
                    JOIN rtsubs b ON b.vec_id = a.vec_id AND b.s = a.s,
                         generate_series(1, {d}) AS g(i)
                    GROUP BY a.s, a.cid, g.i) GROUP BY s, cid)""")
    fin = f"""
        enc AS (SELECT a.vec_id, a.s, c.cid, {r6.format(x=l2)} AS d2
                FROM rsubs a JOIN p{pq_iters} c ON c.s = a.s),
        pcodes AS (SELECT vec_id, s, cid FROM (
                     SELECT vec_id, s, cid,
                            ROW_NUMBER() OVER (PARTITION BY vec_id, s
                               ORDER BY d2, cid) AS rn
                     FROM enc) WHERE rn = 1),
        probes AS (SELECT vec_id AS query_id, cid FROM (
                     SELECT vec_id, cid,
                            ROW_NUMBER() OVER (PARTITION BY vec_id
                               ORDER BY cs DESC, cid) AS rn
                     FROM kscored WHERE vec_id < {max_query_id})
                   WHERE rn <= {nprobe}),
        qdp AS (SELECT q.vec_id AS query_id, c.cid,
                       {micro.format(x=r6.format(x=qdot))} AS coarse_micro
                FROM vecs q, c{ci} c WHERE q.vec_id < {max_query_id}),
        lut AS (SELECT q.vec_id AS query_id, c.s, c.cid,
                       {micro.format(x=r6.format(x=qsub_dot))} AS dp_micro
                FROM vecs q, p{pq_iters} c
                WHERE q.vec_id < {max_query_id}),
        cand AS (SELECT pr.query_id, pc.vec_id AS neighbor_id,
                        pc.s, pc.cid, ka.cid AS kcid
                 FROM probes pr
                 JOIN kassign ka ON ka.cid = pr.cid
                 JOIN pcodes pc ON pc.vec_id = ka.vec_id),
        sc AS (SELECT c.query_id, c.neighbor_id, c.kcid,
                      SUM(l.dp_micro)::BIGINT AS res_micro
               FROM cand c JOIN lut l ON l.query_id = c.query_id
                                     AND l.s = c.s AND l.cid = c.cid
               GROUP BY c.query_id, c.neighbor_id, c.kcid),
        tot AS (SELECT s.query_id, s.neighbor_id,
                       (s.res_micro + q.coarse_micro)::BIGINT AS score_micro
                FROM sc s JOIN qdp q ON q.query_id = s.query_id
                                    AND q.cid = s.kcid
                WHERE s.neighbor_id != s.query_id)
        SELECT query_id, neighbor_id, score_micro, rank::INT AS rank FROM (
          SELECT query_id, neighbor_id, score_micro,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY score_micro DESC, neighbor_id) AS rank
          FROM tot) WHERE rank <= {k}"""
    return "WITH " + ",".join(ctes) + "," + fin


def _semantic_dedup_oracle(n_centroids: int = 8, iters: int = 2,
                           min_cosine: float = 0.95, dim: int = 64) -> str:
    """DuckDB twin of similarity.semantic_dedup over the copy-augmented
    corpus: shared k-means replay (:func:`_kmeans_ctes`) trained on the
    BASE corpus (the shared-fit model ivf_trained_topk uses — r4 verdict
    item 5), argmax-cosine assignment over the augmented corpus, then
    max cosine to any lower-id same-cluster member."""
    vecs_sql = """SELECT vec_id,
                         list_transform(embedding, x -> x::DOUBLE) AS v
                  FROM embeddings
                  UNION ALL
                  SELECT vec_id + 1000000,
                         list_transform(embedding, x -> x::DOUBLE)
                  FROM embeddings"""
    ctes = _kmeans_ctes(n_centroids, iters, dim, vecs_sql,
                        train_vecs_sql=_VECS_EMB)
    fin = f"""
        scored AS (SELECT a.vec_id, c.cid,
                          ((CASE WHEN (list_cosine_similarity(a.v, c.cvec)) < 0 THEN -1 ELSE 1 END) * floor(abs(list_cosine_similarity(a.v, c.cvec)) * 1000000.0 + 0.5) / 1000000.0 + 0.0) AS cs
                   FROM vecs a, c{iters} c),
        assign AS (SELECT vec_id, cid FROM (
                     SELECT vec_id, cid,
                            ROW_NUMBER() OVER (PARTITION BY vec_id
                               ORDER BY cs DESC, cid) AS rn
                     FROM scored) WHERE rn = 1),
        vb AS (SELECT vecs.vec_id, v, assign.cid
               FROM vecs JOIN assign ON vecs.vec_id = assign.vec_id),
        sims AS (SELECT b.vec_id,
                        MAX(((CASE WHEN (list_cosine_similarity(a.v, b.v)) < 0 THEN -1 ELSE 1 END) * floor(abs(list_cosine_similarity(a.v, b.v)) * 1000000.0 + 0.5) / 1000000.0 + 0.0))
                          AS max_sim_lower
                 FROM vb a JOIN vb b
                   ON a.cid = b.cid AND a.vec_id < b.vec_id
                 GROUP BY b.vec_id)
        SELECT vb.vec_id, vb.cid, s.max_sim_lower,
               (s.max_sim_lower IS NULL OR s.max_sim_lower < {min_cosine})
                 AS is_kept
        FROM vb LEFT JOIN sims s ON vb.vec_id = s.vec_id"""
    return "WITH " + ",".join(ctes) + "," + fin


def _passage_dedup_oracle(window: int = 100, stride: int = 50,
                          max_dup_ratio: float = 0.5) -> str:
    """DuckDB twin of dedup.passage_dedup_stats over the copy-augmented
    corpus: sliding-window substr+md5, global occurrence counts, per-doc
    rollup with the exact scaled-integer ratio rounding."""
    return f"""
        WITH corpus AS (SELECT doc_id, text FROM documents
                        UNION ALL
                        SELECT doc_id + 1000000, text FROM documents
                        WHERE doc_id < 50),
        docs AS (SELECT doc_id, text, length(text) AS L FROM corpus),
        wins AS (SELECT doc_id, md5(substr(text, p, {window})) AS whash
                 FROM docs,
                      unnest(range(1, L - {window} + 2, {stride})) AS t(p)
                 WHERE L >= {window}),
        hc AS (SELECT whash, COUNT(*)::BIGINT AS n_occ
               FROM wins GROUP BY whash),
        per AS (SELECT w.doc_id, COUNT(*)::BIGINT AS nw,
                       SUM(CASE WHEN hc.n_occ > 1 THEN 1 ELSE 0 END)::BIGINT
                           AS nd
                FROM wins w JOIN hc USING (whash) GROUP BY w.doc_id),
        fin AS (SELECT d.doc_id,
                       COALESCE(per.nw, 0)::BIGINT AS nw,
                       COALESCE(per.nd, 0)::BIGINT AS nd
                FROM docs d LEFT JOIN per USING (doc_id))
        SELECT doc_id, nw::INT AS n_windows, nd::INT AS n_dup_windows,
               CASE WHEN nw > 0
                    THEN ((2000000*nd + nw) // (2*nw)) / 1000000.0
                    ELSE 0.0 END AS dup_ratio,
               (CASE WHEN nw > 0
                     THEN ((2000000*nd + nw) // (2*nw)) / 1000000.0
                     ELSE 0.0 END) <= {max_dup_ratio!r} AS keep
        FROM fin
    """


_WORDS_LOWER = "string_split_regex(trim(lower(text)), '\\s+')"


def _tfidf_oracle(k: int = 5) -> str:
    """DuckDB twin of text.tfidf_top_terms: explode → tf and document
    frequency aggregates → smoothed-idf score, per-doc top-k window."""
    return f"""
        WITH tl AS (SELECT doc_id, {_WORDS_LOWER} AS w FROM documents),
        terms AS (SELECT doc_id, unnest(w) AS term FROM tl),
        tf AS (SELECT doc_id, term, COUNT(*)::BIGINT AS tf
               FROM terms GROUP BY doc_id, term),
        dft AS (SELECT term, COUNT(*)::BIGINT AS dft FROM tf GROUP BY term),
        n AS (SELECT COUNT(*)::BIGINT AS n_docs FROM documents),
        scored AS (SELECT tf.doc_id, tf.term, tf.tf,
                          ((CASE WHEN (tf.tf * (ln((n.n_docs + 1.0::DOUBLE)
                                            / (dft.dft + 1.0::DOUBLE)) + 1.0::DOUBLE)) < 0 THEN -1 ELSE 1 END) * floor(abs(tf.tf * (ln((n.n_docs + 1.0::DOUBLE)
                                            / (dft.dft + 1.0::DOUBLE)) + 1.0::DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 + 0.0)
                              AS score
                   FROM tf JOIN dft USING (term), n)
        SELECT doc_id, term, tf::INT AS tf, score, rank::INT AS rank FROM (
          SELECT doc_id, term, tf, score,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                    ORDER BY score DESC, term) AS rank
          FROM scored) WHERE rank <= {k}
    """


def _bm25_oracle(k: int = 10, k1: float = 1.2, b: float = 0.75) -> str:
    """DuckDB twin of text.bm25_search over BM25_QUERY: identical
    double-arithmetic order (per-term contributions summed in declared
    term order, dl·N/Σdl as one division, final 6-dp round)."""
    idx = range(len(BM25_QUERY))
    tf_cols = ", ".join(
        f"length(list_filter(w, x -> x = '{t}'))::BIGINT AS tf_{i}"
        for i, t in enumerate(BM25_QUERY))
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)::BIGINT AS df_{i}"
        for i in idx)
    contribs = []
    for i in idx:
        # every constant ::DOUBLE-cast — bare decimal literals are DECIMAL
        # in DuckDB and would run (parts of) the chain in exact decimal
        # arithmetic instead of Spark's IEEE doubles (the transform_points
        # r4 trap; see tests/test_round_binary.py)
        idf = (f"ln(1.0::DOUBLE + ((n_docs - df_{i}) + 0.5::DOUBLE) "
               f"/ (df_{i} + 0.5::DOUBLE))")
        denom = (f"(tf_{i} + {k1!r}::DOUBLE * ({1.0 - b!r}::DOUBLE "
                 f"+ {b!r}::DOUBLE * dl * n_docs / sum_dl))")
        contribs.append(f"{idf} * (tf_{i} * {k1 + 1.0!r}::DOUBLE) / {denom}")
    score = " + ".join(contribs)
    return f"""
        WITH tl AS (SELECT doc_id, {_WORDS_LOWER} AS w FROM documents),
        base AS (SELECT doc_id, length(w)::BIGINT AS dl, {tf_cols} FROM tl),
        tot AS (SELECT COUNT(*)::BIGINT AS n_docs,
                        SUM(dl)::BIGINT AS sum_dl, {df_cols} FROM base),
        scored AS (SELECT doc_id, ((CASE WHEN ({score}) < 0 THEN -1 ELSE 1 END) * floor(abs({score}) * 1000000.0 + 0.5) / 1000000.0 + 0.0) AS score
                   FROM base, tot)
        SELECT doc_id, score, rank::INT AS rank FROM (
          SELECT doc_id, score,
                 ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
          FROM scored) WHERE rank <= {k}
    """


def _simhash_oracle() -> str:
    # 64-bit signature from two 32-bit md5 halves; bit 63 is the int64
    # sign bit (−2^63 added LAST so no intermediate overflows) — mirrors
    # operators.dedup.simhash bit-for-bit. Brute-force O(n²) here; the
    # Spark side uses the 4×16-bit-chunk pigeonhole equi-join.
    from datafusion_geo_spark.operators.dedup import SIMHASH_BITS
    sums = ", ".join(
        f"SUM(CASE WHEN ({'hlo' if j < 32 else 'hhi'} >> {j % 32}) & 1 = 1 "
        f"THEN 1 ELSE -1 END) AS s{j}"
        for j in range(SIMHASH_BITS))
    terms = [f"(CASE WHEN s{j} > 0 THEN (1::BIGINT << {j}) ELSE 0 END)"
             for j in range(63)]
    terms.append("(CASE WHEN s63 > 0 THEN (-9223372036854775807 - 1)::BIGINT "
                 "ELSE 0 END)")
    sig = " + ".join(terms)
    corpus = _CORPUS.format(where="")
    return f"""
        WITH corpus AS ({corpus}),
        wrd AS (SELECT doc_id, unnest({_WORDS}) AS w FROM corpus),
        h AS (SELECT doc_id,
                     ('0x' || substr(md5(w), 1, 8))::BIGINT AS hlo,
                     ('0x' || substr(md5(w), 9, 8))::BIGINT AS hhi
              FROM wrd),
        sums AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id),
        sig AS (SELECT doc_id, ({sig})::BIGINT AS simhash FROM sums)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               bit_count(xor(a.simhash, b.simhash))::INT AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """


_COSINE_TOPK_SQL = """
            WITH q AS (SELECT vec_id AS query_id,
                              list_transform(embedding, x -> x::DOUBLE) AS qv
                       FROM embeddings WHERE vec_id < 8),
            c AS (SELECT vec_id AS neighbor_id,
                         list_transform(embedding, x -> x::DOUBLE) AS cv
                  FROM embeddings)
            SELECT query_id, neighbor_id, sim, rank::INT AS rank FROM (
              SELECT query_id, neighbor_id,
                     ((CASE WHEN (list_cosine_similarity(qv, cv)) < 0 THEN -1 ELSE 1 END) * floor(abs(list_cosine_similarity(qv, cv)) * 1000000.0 + 0.5) / 1000000.0 + 0.0) AS sim,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY ((CASE WHEN (list_cosine_similarity(qv, cv)) < 0 THEN -1 ELSE 1 END) * floor(abs(list_cosine_similarity(qv, cv)) * 1000000.0 + 0.5) / 1000000.0 + 0.0) DESC,
                                 neighbor_id) AS rank
              FROM q, c WHERE neighbor_id != query_id)
            WHERE rank <= 10
"""


def _lines_wkt_sql() -> str:
    """DuckDB expression for the lines_orders WKT (single shared
    definition, fixtures.LINES_ORDERS_WKT_SQL)."""
    from datafusion_geo_spark.sources.fixtures import LINES_ORDERS_WKT_SQL
    return LINES_ORDERS_WKT_SQL


def _stop_list() -> str:
    from datafusion_geo_spark.operators.text import STOPWORDS
    return ", ".join(f"'{w}'" for w in STOPWORDS)


def _lang_pred_sql(wcol: str) -> str:
    """lang_id's prediction as ONE SQL expression over a words-list
    column — the parameterized twin of :func:`_lang_oracle` for
    oracles that classify more than one text variant per row (the
    krippendorff_alpha rater grid). Same marker table, same GREATEST /
    first-match-in-declared-order tie-break."""
    from datafusion_geo_spark.operators.text import LANG_MARKERS
    scores = {
        lang: "len(list_filter({w}, x -> x IN ({m})))".format(
            w=wcol, m=", ".join(f"'{x}'" for x in markers))
        for lang, markers in LANG_MARKERS}
    mx = "GREATEST({})".format(", ".join(scores.values()))
    return ("CASE " + " ".join(
        f"WHEN {scores[lang]} = {mx} THEN '{lang}'"
        for lang, _ in LANG_MARKERS) + " END")


def _lang_oracle() -> str:
    from datafusion_geo_spark.operators.text import LANG_MARKERS
    score_defs = ", ".join(
        "len(list_filter(w, x -> x IN ({})))::INT AS score_{}".format(
            ", ".join(f"'{m}'" for m in markers), lang)
        for lang, markers in LANG_MARKERS)
    mx = "GREATEST({})".format(", ".join(f"score_{l}" for l, _ in LANG_MARKERS))
    pred = "CASE " + " ".join(
        f"WHEN score_{lang} = {mx} THEN '{lang}'"
        for lang, _ in LANG_MARKERS) + " END"
    return f"""
        SELECT doc_id, {", ".join(f"score_{l}" for l, _ in LANG_MARKERS)},
               {pred} AS lang_pred
        FROM (SELECT doc_id, {score_defs}
              FROM (SELECT doc_id, {_WORDS} AS w FROM documents))
    """


def _cluster_cohesion_oracle(n_centroids: int = 8, iters: int = 2,
                             dim: int = 64) -> str:
    """DuckDB twin of similarity.cluster_cohesion: the shared k-means
    replay (_kmeans_ctes), every vector scored against the trained
    centroids (6-dp cosine), own = rank 1 / second = rank 2 by
    (cs DESC, cid) — the _ranked_lists_inline order — each micro-int
    rounded, grouped by the own cluster."""
    r6 = ("((CASE WHEN ({x}) < 0 THEN -1 ELSE 1 END) * "
          "floor(abs({x}) * 1000000.0 + 0.5) / 1000000.0 + 0.0)")
    cs = r6.format(x="list_cosine_similarity(a.v, c.cvec)")
    micro = ("(CASE WHEN (cs) < 0 THEN -1 ELSE 1 END) * "
             "CAST(floor(abs(cs) * 1000000.0 + 0.5) AS BIGINT)")
    ctes = _kmeans_ctes(n_centroids, iters, dim)
    return "WITH " + ",".join(ctes) + f""",
        sc AS (SELECT a.vec_id, c.cid, {cs} AS cs
               FROM vecs a, c{iters} c),
        rk AS (SELECT vec_id, cid, {micro} AS m,
                      ROW_NUMBER() OVER (PARTITION BY vec_id
                         ORDER BY cs DESC, cid) AS rn
               FROM sc)
        SELECT o.cid, COUNT(*)::BIGINT AS n_members,
               SUM(o.m)::BIGINT AS own_micro_sum,
               SUM(s.m)::BIGINT AS second_micro_sum,
               (SUM(o.m) - SUM(s.m))::BIGINT AS sep_micro_sum
        FROM (SELECT vec_id, cid, m FROM rk WHERE rn = 1) o
        JOIN (SELECT vec_id, m FROM rk WHERE rn = 2) s USING (vec_id)
        GROUP BY o.cid
    """


def _bigram_ppl_oracle() -> str:
    """SQL replay of text.bigram_heldout_perplexity: same 90/10 md5
    split, lateral-unnest adjacent pairs (w[i], w[i+1]), the identical
    JM-interpolated probability expression (0.75·c12/c1 when the
    context is seen, plus 0.25·(c2+1)/(T+V+1)), micro-int pair
    logprobs summed, heldout_ppl's exp(-mean) literal chain."""
    wl = "string_split_regex(trim(lower(text)), '\\s+')"
    micro = ("(CASE WHEN ({x}) < 0 THEN -1 ELSE 1 END) * "
             "CAST(floor(abs({x}) * 1000000.0 + 0.5) AS BIGINT)")
    r6 = ("((CASE WHEN ({x}) < 0 THEN -1 ELSE 1 END) * "
          "floor(abs({x}) * 1000000.0 + 0.5) / 1000000.0 + 0.0)")
    p = ("(CASE WHEN c1 IS NOT NULL THEN "
         "0.75 * (COALESCE(c12, 0)::DOUBLE / c1::DOUBLE) "
         "ELSE 0.0 END "
         "+ 0.25 * ((COALESCE(c2, 0) + 1)::DOUBLE "
         "/ (total + v + 1)::DOUBLE))")
    lp_m = micro.format(x=f"ln({p})")
    ppl = r6.format(x="exp(-((lp_micro_sum / 1000000.0) "
                      "/ n_test_bigrams))")
    ppl_m = micro.format(x=ppl)
    return f"""
            WITH sp AS (
              SELECT doc_id, text,
                     ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                       % 10000 AS b
              FROM documents
            ), tw AS (SELECT doc_id, {wl} AS w FROM sp WHERE b < 9000),
            ttoks AS (SELECT unnest(w) AS w FROM tw),
            vocab AS (SELECT w, COUNT(*)::BIGINT AS cnt
                      FROM ttoks GROUP BY w),
            tot AS (SELECT COUNT(*)::BIGINT AS total FROM ttoks),
            vs AS (SELECT COUNT(*)::BIGINT AS v FROM vocab),
            tbg AS (SELECT w[i::INT] AS w1, w[(i + 1)::INT] AS w2
                    FROM tw, unnest(range(1, len(w))) AS t(i)),
            bg AS (SELECT w1, w2, COUNT(*)::BIGINT AS c12
                   FROM tbg GROUP BY w1, w2),
            hw AS (SELECT doc_id, {wl} AS w FROM sp WHERE b >= 9000),
            hbg AS (SELECT doc_id, w[i::INT] AS w1, w[(i + 1)::INT] AS w2
                    FROM hw, unnest(range(1, len(w))) AS t(i)),
            sc AS (SELECT h.doc_id, bg.c12, v1.cnt AS c1, v2.cnt AS c2
                   FROM hbg h
                   LEFT JOIN bg ON bg.w1 = h.w1 AND bg.w2 = h.w2
                   LEFT JOIN vocab v1 ON v1.w = h.w1
                   LEFT JOIN vocab v2 ON v2.w = h.w2),
            agg AS (
              SELECT COUNT(DISTINCT sc.doc_id)::BIGINT AS n_test_docs,
                     COUNT(*)::BIGINT AS n_test_bigrams,
                     SUM(CASE WHEN c1 IS NULL THEN 1 ELSE 0 END)::BIGINT
                       AS n_unseen_ctx,
                     SUM(CASE WHEN c12 IS NULL THEN 1 ELSE 0 END)::BIGINT
                       AS n_unseen_pair,
                     SUM({lp_m})::BIGINT AS lp_micro_sum
              FROM sc, tot, vs
            )
            SELECT n_test_docs, n_test_bigrams, n_unseen_ctx,
                   n_unseen_pair, lp_micro_sum,
                   {ppl_m} AS ppl_micro
            FROM agg
    """


def _kn_bigram_ppl_oracle() -> str:
    """SQL replay of text.kn_bigram_perplexity: the bigram_ppl chain
    plus the two dict-sized distinct-neighbor counts, the identical KN
    probability expression (same operator order, so every IEEE step
    matches), micro-int pair logprobs, the shared exp(-mean) chain."""
    wl = "string_split_regex(trim(lower(text)), '\\s+')"
    micro = ("(CASE WHEN ({x}) < 0 THEN -1 ELSE 1 END) * "
             "CAST(floor(abs({x}) * 1000000.0 + 0.5) AS BIGINT)")
    r6 = ("((CASE WHEN ({x}) < 0 THEN -1 ELSE 1 END) * "
          "floor(abs({x}) * 1000000.0 + 0.5) / 1000000.0 + 0.0)")
    pcont = ("((COALESCE(np, 0) + 1)::DOUBLE "
             "/ (btypes + v + 1)::DOUBLE)")
    p = ("(CASE WHEN nf IS NOT NULL THEN "
         "greatest(COALESCE(c12, 0)::DOUBLE - 0.75, 0.0) / c1::DOUBLE "
         f"+ 0.75 * nf::DOUBLE / c1::DOUBLE * {pcont} "
         f"ELSE {pcont} END)")
    lp_m = micro.format(x=f"ln({p})")
    ppl = r6.format(x="exp(-((lp_micro_sum / 1000000.0) "
                      "/ n_test_bigrams))")
    ppl_m = micro.format(x=ppl)
    return f"""
            WITH sp AS (
              SELECT doc_id, text,
                     ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                       % 10000 AS b
              FROM documents
            ), tw AS (SELECT doc_id, {wl} AS w FROM sp WHERE b < 9000),
            ttoks AS (SELECT unnest(w) AS w FROM tw),
            vocab AS (SELECT w, COUNT(*)::BIGINT AS cnt
                      FROM ttoks GROUP BY w),
            vs AS (SELECT COUNT(*)::BIGINT AS v FROM vocab),
            tbg AS (SELECT w[i::INT] AS w1, w[(i + 1)::INT] AS w2
                    FROM tw, unnest(range(1, len(w))) AS t(i)),
            bg AS (SELECT w1, w2, COUNT(*)::BIGINT AS c12
                   FROM tbg GROUP BY w1, w2),
            nf AS (SELECT w1, COUNT(*)::BIGINT AS nf FROM bg GROUP BY w1),
            npr AS (SELECT w2, COUNT(*)::BIGINT AS np FROM bg GROUP BY w2),
            bt AS (SELECT COUNT(*)::BIGINT AS btypes FROM bg),
            hw AS (SELECT doc_id, {wl} AS w FROM sp WHERE b >= 9000),
            hbg AS (SELECT doc_id, w[i::INT] AS w1, w[(i + 1)::INT] AS w2
                    FROM hw, unnest(range(1, len(w))) AS t(i)),
            sc AS (SELECT h.doc_id, bg.c12, v1.cnt AS c1, nf.nf, npr.np
                   FROM hbg h
                   LEFT JOIN bg ON bg.w1 = h.w1 AND bg.w2 = h.w2
                   LEFT JOIN vocab v1 ON v1.w = h.w1
                   LEFT JOIN nf ON nf.w1 = h.w1
                   LEFT JOIN npr ON npr.w2 = h.w2),
            agg AS (
              SELECT COUNT(DISTINCT sc.doc_id)::BIGINT AS n_test_docs,
                     COUNT(*)::BIGINT AS n_test_bigrams,
                     SUM(CASE WHEN nf IS NULL THEN 1 ELSE 0 END)::BIGINT
                       AS n_unseen_ctx,
                     SUM(CASE WHEN c12 IS NULL THEN 1 ELSE 0 END)::BIGINT
                       AS n_unseen_pair,
                     SUM({lp_m})::BIGINT AS lp_micro_sum
              FROM sc, bt, vs
            )
            SELECT n_test_docs, n_test_bigrams, n_unseen_ctx,
                   n_unseen_pair, lp_micro_sum,
                   {ppl_m} AS ppl_micro
            FROM agg
    """


def _kn_bigram_ppl_by_lang_oracle() -> str:
    """SQL replay of text.kn_bigram_perplexity_by('lang'): the
    _kn_bigram_ppl_oracle chain with the language key carried through
    every dict CTE (vocab/bigrams/continuation counts/B/V all
    per-lang), the identical KN probability expression and micro-int
    logprob sums, one output row per language."""
    wl = "string_split_regex(trim(lower(text)), '\\s+')"
    micro = ("(CASE WHEN ({x}) < 0 THEN -1 ELSE 1 END) * "
             "CAST(floor(abs({x}) * 1000000.0 + 0.5) AS BIGINT)")
    r6 = ("((CASE WHEN ({x}) < 0 THEN -1 ELSE 1 END) * "
          "floor(abs({x}) * 1000000.0 + 0.5) / 1000000.0 + 0.0)")
    pcont = ("((COALESCE(np, 0) + 1)::DOUBLE "
             "/ (btypes + v + 1)::DOUBLE)")
    p = ("(CASE WHEN nf IS NOT NULL THEN "
         "greatest(COALESCE(c12, 0)::DOUBLE - 0.75, 0.0) / c1::DOUBLE "
         f"+ 0.75 * nf::DOUBLE / c1::DOUBLE * {pcont} "
         f"ELSE {pcont} END)")
    lp_m = micro.format(x=f"ln({p})")
    ppl = r6.format(x="exp(-((lp_micro_sum / 1000000.0) "
                      "/ n_test_bigrams))")
    ppl_m = micro.format(x=ppl)
    return f"""
            WITH sp AS (
              SELECT lang, doc_id, text,
                     ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                       % 10000 AS b
              FROM documents WHERE lang IS NOT NULL
            ), tw AS (SELECT lang, doc_id, {wl} AS w
                      FROM sp WHERE b < 9000),
            ttoks AS (SELECT lang, unnest(w) AS w FROM tw),
            vocab AS (SELECT lang, w, COUNT(*)::BIGINT AS cnt
                      FROM ttoks GROUP BY lang, w),
            vs AS (SELECT lang, COUNT(*)::BIGINT AS v
                   FROM vocab GROUP BY lang),
            tbg AS (SELECT lang, w[i::INT] AS w1, w[(i + 1)::INT] AS w2
                    FROM tw, unnest(range(1, len(w))) AS t(i)),
            bg AS (SELECT lang, w1, w2, COUNT(*)::BIGINT AS c12
                   FROM tbg GROUP BY lang, w1, w2),
            nf AS (SELECT lang, w1, COUNT(*)::BIGINT AS nf
                   FROM bg GROUP BY lang, w1),
            npr AS (SELECT lang, w2, COUNT(*)::BIGINT AS np
                    FROM bg GROUP BY lang, w2),
            bt AS (SELECT lang, COUNT(*)::BIGINT AS btypes
                   FROM bg GROUP BY lang),
            hw AS (SELECT lang, doc_id, {wl} AS w
                   FROM sp WHERE b >= 9000),
            hbg AS (SELECT lang, doc_id,
                           w[i::INT] AS w1, w[(i + 1)::INT] AS w2
                    FROM hw, unnest(range(1, len(w))) AS t(i)),
            sc AS (SELECT h.lang, h.doc_id, bg.c12, v1.cnt AS c1,
                          nf.nf, npr.np, bt.btypes, vs.v
                   FROM hbg h
                   LEFT JOIN bg ON bg.lang = h.lang
                     AND bg.w1 = h.w1 AND bg.w2 = h.w2
                   LEFT JOIN vocab v1 ON v1.lang = h.lang AND v1.w = h.w1
                   LEFT JOIN nf ON nf.lang = h.lang AND nf.w1 = h.w1
                   LEFT JOIN npr ON npr.lang = h.lang AND npr.w2 = h.w2
                   JOIN bt ON bt.lang = h.lang
                   JOIN vs ON vs.lang = h.lang),
            agg AS (
              SELECT lang,
                     COUNT(DISTINCT doc_id)::BIGINT AS n_test_docs,
                     COUNT(*)::BIGINT AS n_test_bigrams,
                     SUM(CASE WHEN nf IS NULL THEN 1 ELSE 0 END)::BIGINT
                       AS n_unseen_ctx,
                     SUM(CASE WHEN c12 IS NULL THEN 1 ELSE 0 END)::BIGINT
                       AS n_unseen_pair,
                     SUM({lp_m})::BIGINT AS lp_micro_sum
              FROM sc GROUP BY lang
            )
            SELECT lang, n_test_docs, n_test_bigrams, n_unseen_ctx,
                   n_unseen_pair, lp_micro_sum,
                   {ppl_m} AS ppl_micro
            FROM agg
    """


def oracle_sql() -> dict[str, str]:
    _EMAIL_RE, _PHONE_RE = _pii_regexes()
    out = {
        "wkt_roundtrip_points": f"""
            SELECT l_orderkey, l_linenumber,
                   CASE WHEN l_orderkey % 7 = 0 THEN NULL
                        ELSE {_POINT_WKT} END AS wkt_out
            FROM lineitem
        """,
        "intersects_scan": """
            SELECT l_orderkey, l_linenumber,
                   (l_orderkey % 1000 = 10 AND l_partkey % 1000 = 11) AS hit
            FROM lineitem
        """,
        "intersects_lines": """
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 7 = 0 THEN NULL
                        ELSE (o_orderkey % 1000) BETWEEN 6 AND 10 END AS hit
            FROM orders
        """,
        "extent_by_mktsegment": """
            SELECT c_mktsegment,
                   MIN(x) AS xmin, MIN(y) AS ymin,
                   MAX(x) AS xmax, MAX(y) AS ymax
            FROM (
              SELECT c_mktsegment,
                     CASE WHEN c_custkey % 7 = 0 THEN NULL
                          ELSE CAST(c_custkey % 360 - 180 AS DOUBLE) END AS x,
                     CASE WHEN c_custkey % 7 = 0 THEN NULL
                          ELSE CAST(c_nationkey * 3 AS DOUBLE) - 37.5 END AS y
              FROM customer)
            GROUP BY c_mktsegment
        """,
        "extent_sql_udaf": """
            SELECT c_mktsegment,
                   MIN(x) AS xmin, MIN(y) AS ymin,
                   MAX(x) AS xmax, MAX(y) AS ymax
            FROM (
              SELECT c_mktsegment,
                     CASE WHEN c_custkey % 7 = 0 THEN NULL
                          ELSE CAST(c_custkey % 360 - 180 AS DOUBLE) END AS x,
                     CASE WHEN c_custkey % 7 = 0 THEN NULL
                          ELSE CAST(c_nationkey * 3 AS DOUBLE) - 37.5 END AS y
              FROM customer)
            GROUP BY c_mktsegment
        """,
        "box2d_lines": """
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 7 = 0 THEN NULL
                        ELSE CAST(o_orderkey % 1000 AS DOUBLE) END AS xmin,
                   CASE WHEN o_orderkey % 7 = 0 THEN NULL
                        ELSE CAST(o_orderkey % 1000 + 1 AS DOUBLE) END AS ymin,
                   CASE WHEN o_orderkey % 7 = 0 THEN NULL
                        ELSE CAST(o_orderkey % 1000 + 4 AS DOUBLE) END AS xmax,
                   CASE WHEN o_orderkey % 7 = 0 THEN NULL
                        ELSE CAST(o_orderkey % 1000 + 5 AS DOUBLE) END AS ymax
            FROM orders
        """,
        "translate_points": """
            SELECT l_orderkey, l_linenumber,
                   CASE WHEN l_orderkey % 7 = 0 THEN NULL
                        ELSE 'POINT(' ||
                             CAST(CAST(l_orderkey % 1000 AS DOUBLE) + 1.5 AS VARCHAR)
                             || ' ' ||
                             CAST(CAST(l_partkey % 1000 AS DOUBLE) + 2.5 AS VARCHAR)
                             || ')' END AS wkt_out
            FROM lineitem
        """,
        "covers_envelope": """
            SELECT n_nationkey,
                   (n_nationkey <= 10 AND 10 <= n_nationkey + 5 AND
                    n_regionkey <= 3 AND 3 <= n_regionkey + 5) AS covers_pt,
                   (n_nationkey <= 10 AND 10 <= n_nationkey + 5 AND
                    n_regionkey <= 3 AND 3 <= n_regionkey + 5) AS pt_covered_by
            FROM nation
        """,
        "equals_lines": """
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE TRUE END AS eq_simplified,
                   CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE FALSE END AS eq_shifted
            FROM orders
        """,
        "wkb_roundtrip": f"""
            SELECT l_orderkey, l_linenumber,
                   CASE WHEN l_orderkey % 7 = 0 THEN NULL
                        ELSE {_POINT_WKT} END AS wkt_out,
                   CASE WHEN l_orderkey % 7 = 0 THEN NULL
                        ELSE CAST(4326 AS INTEGER) END AS srid_out,
                   CASE WHEN l_orderkey % 7 = 0 THEN NULL
                        ELSE 'SRID=4326;' || {_POINT_WKT} END AS ewkt_out
            FROM lineitem
        """,
        "srid_ewkt": f"""
            SELECT l_orderkey, l_linenumber,
                   CASE WHEN l_orderkey % 7 = 0 THEN NULL
                        ELSE CAST(4269 AS INTEGER) END AS srid,
                   CASE WHEN l_orderkey % 7 = 0 THEN NULL
                        ELSE 'SRID=4269;' || {_POINT_WKT} END AS ewkt
            FROM lineitem
        """,
        "setsrid_roundtrip": f"""
            SELECT l_orderkey, l_linenumber,
                   CASE WHEN l_orderkey % 7 = 0 THEN NULL
                        ELSE CAST(4326 AS INTEGER) END AS stamped,
                   CASE WHEN l_orderkey % 7 = 0 THEN NULL
                        ELSE 'SRID=3857;' || {_POINT_WKT} END AS restamped,
                   CAST(NULL AS INTEGER) AS cleared
            FROM lineitem
        """,
        "geojson_points": """
            SELECT l_orderkey, l_linenumber,
                   CASE WHEN l_orderkey % 7 = 0 THEN NULL
                        ELSE '{"type":"Point","coordinates":[' ||
                             CAST(l_orderkey % 1000 AS VARCHAR) || ',' ||
                             CAST(l_partkey % 1000 AS VARCHAR) || ']}' END AS geojson
            FROM lineitem
        """,
        "geojson_parse": """
            SELECT l_orderkey, l_linenumber,
                   CASE WHEN l_orderkey % 7 = 0 THEN NULL
                        ELSE 'POINT(' || CAST(l_orderkey % 1000 AS VARCHAR)
                             || ' ' || CAST(l_partkey % 1000 AS VARCHAR)
                             || ')' END AS wkt_point,
                   'LINESTRING(' || CAST(l_orderkey % 1000 AS VARCHAR)
                       || ' ' || CAST(l_partkey % 1000 AS VARCHAR) || ','
                       || CAST(l_partkey % 997 AS VARCHAR) || ' 0)'
                       AS wkt_line
            FROM lineitem
        """,
        "geometry_type": """
            SELECT 'P-' || CAST(l_orderkey AS VARCHAR) || '-' ||
                   CAST(l_linenumber AS VARCHAR) AS id,
                   CASE WHEN l_orderkey % 7 = 0 THEN NULL
                        ELSE 'ST_Point' END AS gtype
            FROM lineitem
            UNION ALL
            SELECT 'L-' || CAST(o_orderkey AS VARCHAR) AS id,
                   CASE WHEN o_orderkey % 7 = 0 THEN NULL
                        ELSE 'ST_LineString' END AS gtype
            FROM orders
        """,
        # buffer: octagon (quadsegs=2 → 8 vertices + closing = 9); bbox is
        # exactly center ± width because vertices sit at angles 0/90/180/270.
        "buffer_bbox": """
            SELECT c_custkey, CAST(9 AS INTEGER) AS nvert,
                   ((CASE WHEN (x - 50.0) < 0 THEN -1 ELSE 1 END) * floor(abs(x - 50.0) * 1000000.0 + 0.5) / 1000000.0 + 0.0) AS xmin, ((CASE WHEN (y - 50.0) < 0 THEN -1 ELSE 1 END) * floor(abs(y - 50.0) * 1000000.0 + 0.5) / 1000000.0 + 0.0) AS ymin,
                   ((CASE WHEN (x + 50.0) < 0 THEN -1 ELSE 1 END) * floor(abs(x + 50.0) * 1000000.0 + 0.5) / 1000000.0 + 0.0) AS xmax, ((CASE WHEN (y + 50.0) < 0 THEN -1 ELSE 1 END) * floor(abs(y + 50.0) * 1000000.0 + 0.5) / 1000000.0 + 0.0) AS ymax
            FROM (
              SELECT c_custkey,
                     CAST(c_custkey % 360 - 180 AS DOUBLE) AS x,
                     CAST(c_nationkey * 3 AS DOUBLE) - 37.5 AS y
              FROM customer)
        """,
        # L-poly: covered iff in [x0,x0+12]x[y0,y0+12] and not in the
        # notch x>x0+6 ∧ y>y0+6; donut: same box minus the open hole
        # (x0+3,x0+9)x(y0+3,y0+9). Integer grid -> exact boundary ties.
        "covers_concave": """
            SELECT n_nationkey,
                   SUM(CASE WHEN x <= x0 + 6 OR y <= y0 + 6
                            THEN 1 ELSE 0 END)::BIGINT AS n_l,
                   SUM(CASE WHEN NOT (x > x0 + 3 AND x < x0 + 9
                                      AND y > y0 + 3 AND y < y0 + 9)
                            THEN 1 ELSE 0 END)::BIGINT AS n_donut
            FROM (SELECT CAST(c_custkey % 360 - 180 AS DOUBLE) AS x,
                         c_nationkey * 3 - 37.5 AS y
                  FROM customer),
                 (SELECT n_nationkey,
                         n_nationkey * 14 - 180 AS x0,
                         n_regionkey * 14 - 38 AS y0
                  FROM nation)
            WHERE x >= x0 AND x <= x0 + 12 AND y >= y0 AND y <= y0 + 12
            GROUP BY n_nationkey
            ORDER BY n_nationkey
        """,
        # capsule of the collinear 45° fixture line, w=2 q=8: 37 vertices;
        # bbox = line bbox ± w exactly (cap arcs land on the axis angles);
        # area = 2wL + 2q*w^2*sin(pi/2q), L = 4*sqrt(2)
        "buffer_lines": """
            SELECT o_orderkey, CAST(37 AS INTEGER) AS nvert,
                   ((CASE WHEN (16 * sqrt(2.0) + 64 * sin(pi() / 16.0)) < 0 THEN -1 ELSE 1 END) * floor(abs(16 * sqrt(2.0) + 64 * sin(pi() / 16.0)) * 1000000.0 + 0.5) / 1000000.0 + 0.0) AS area,
                   ((CASE WHEN (CAST(k - 2 AS DOUBLE)) < 0 THEN -1 ELSE 1 END) * floor(abs(CAST(k - 2 AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 + 0.0) AS xmin,
                   ((CASE WHEN (CAST(k - 1 AS DOUBLE)) < 0 THEN -1 ELSE 1 END) * floor(abs(CAST(k - 1 AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 + 0.0) AS ymin,
                   ((CASE WHEN (CAST(k + 6 AS DOUBLE)) < 0 THEN -1 ELSE 1 END) * floor(abs(CAST(k + 6 AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 + 0.0) AS xmax,
                   ((CASE WHEN (CAST(k + 7 AS DOUBLE)) < 0 THEN -1 ELSE 1 END) * floor(abs(CAST(k + 7 AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 + 0.0) AS ymax
            FROM (SELECT o_orderkey, o_orderkey % 1000 AS k FROM orders)
        """,
        # line k: y=x+1, x∈[k,k+4]; box: [n,n+5]×[r,r+5];
        # intersect ⇔ max(k, n, r-1) <= min(k+4, n+5, r+4)
        "spatial_join": """
            SELECT n_nationkey, COUNT(*) AS n_lines
            FROM (SELECT o_orderkey % 1000 AS k FROM orders) lines,
                 (SELECT n_nationkey, n_nationkey AS bxmin, n_regionkey AS bymin
                  FROM nation) boxes
            WHERE GREATEST(k, bxmin, bymin - 1) <= LEAST(k + 4, bxmin + 5, bymin + 4)
            GROUP BY n_nationkey
            ORDER BY n_nationkey
        """,
        "boundary_literals": """
            SELECT * FROM (VALUES
              (1, 'LINESTRING(1 1,0 0,-1 1,1 1)'),
              (2, 'MULTIPOINT(100 150,130 140)'),
              (3, 'MULTIPOINT EMPTY'),
              (4, 'GEOMETRYCOLLECTION EMPTY')
            ) AS t(id, boundary_wkt)
        """,
        "mvt_literal": """
            SELECT 1 AS id,
                   'POLYGON((0 4096,10 4096,10 4091,0 4101,0 4096))' AS mvt_wkt
        """,
        # lines fixture: vertices (k,k+1),(k+2,k+3),(k+4,k+5) along y=x+1
        # -> length 4*sqrt(2), centroid (k+2, k+3); 6-dp rounded like the
        # Spark side (float accumulation order differs per engine)
        "measures_lines": """
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 7 = 0 THEN NULL
                        ELSE ((CASE WHEN (4 * sqrt(2)) < 0 THEN -1 ELSE 1 END) * floor(abs(4 * sqrt(2)) * 1000000.0 + 0.5) / 1000000.0 + 0.0) END AS len,
                   CASE WHEN o_orderkey % 7 = 0 THEN NULL
                        ELSE CAST(o_orderkey % 1000 + 2 AS DOUBLE) END AS cx,
                   CASE WHEN o_orderkey % 7 = 0 THEN NULL
                        ELSE CAST(o_orderkey % 1000 + 3 AS DOUBLE) END AS cy
            FROM orders
        """,
        # point fixture x = l_orderkey%1000, y = l_partkey%1000; the
        # kernel computes sqrt(dx*dx+dy*dy) (sqrt form, not hypot) so
        # the doubles match bit-for-bit before the 6-dp round
        "distance_points": """
            SELECT l_orderkey, l_linenumber,
                   CASE WHEN l_orderkey % 7 = 0 THEN NULL
                        ELSE ((CASE WHEN (sqrt(
                          (l_orderkey % 1000 - 500)*(l_orderkey % 1000 - 500)
                          + (l_partkey % 1000 - 500)*(l_partkey % 1000 - 500)
                        )) < 0 THEN -1 ELSE 1 END) * floor(abs(sqrt(
                          (l_orderkey % 1000 - 500)*(l_orderkey % 1000 - 500)
                          + (l_partkey % 1000 - 500)*(l_partkey % 1000 - 500)
                        )) * 1000000.0 + 0.5) / 1000000.0 + 0.0) END AS d,
                   CASE WHEN l_orderkey % 7 = 0 THEN NULL
                        ELSE sqrt(
                          (l_orderkey % 1000 - 500)*(l_orderkey % 1000 - 500)
                          + (l_partkey % 1000 - 500)*(l_partkey % 1000 - 500)
                        ) <= 100.0 END AS near
            FROM lineitem
        """,
        "line_locate_literal": """
            SELECT * FROM (VALUES
              (1, 0.25), (2, 0.75), (3, 0.0), (4, 1.0), (5, 0.5)
            ) AS t(id, frac)
        """,
        # mirrors _q_closest_point_lines: foot of the perpendicular from
        # (500,500) onto y=x+1 is (499.5, 500.5); clamp to [k, k+4]
        "closest_point_lines": """
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 7 = 0 THEN NULL
                        WHEN o_orderkey % 1000 + 4 < 499.5
                             THEN CAST(o_orderkey % 1000 + 4 AS DOUBLE)
                        WHEN o_orderkey % 1000 > 499.5
                             THEN CAST(o_orderkey % 1000 AS DOUBLE)
                        ELSE 499.5 END AS cx,
                   CASE WHEN o_orderkey % 7 = 0 THEN NULL
                        WHEN o_orderkey % 1000 + 4 < 499.5
                             THEN CAST(o_orderkey % 1000 + 5 AS DOUBLE)
                        WHEN o_orderkey % 1000 > 499.5
                             THEN CAST(o_orderkey % 1000 + 1 AS DOUBLE)
                        ELSE 500.5 END AS cy
            FROM orders
        """,
        # goldens: canonical geohash vectors; azimuths are the exact
        # doubles of atan2 at the compass points (row 1 due north,
        # row 2 due east, then S/W/NE from the origin)
        "geohash_azimuth_literal": """
            SELECT * FROM (VALUES
              (1, 'u4pruydqqvj', 0.0),
              (2, 'ezs42', 1.5707963267948966),
              (3, 's000', 3.141592653589793),
              (4, 's', 4.71238898038469),
              (5, 's00000000000', 0.7853981633974483)
            ) AS t(id, gh, az)
        """,
        # mirrors _q_line_interp: total length 4*sqrt(2), two equal
        # segments -> f=0.25 is the first segment's midpoint (k+1,k+2),
        # f=0.5 the middle vertex's... actually the line midpoint
        # (k+2,k+3), f=1 the endpoint (k+4,k+5); all exact integers
        "line_interp": """
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 7 = 0 THEN NULL
                        ELSE 'POINT(' || (o_orderkey % 1000 + 1) || ' '
                             || (o_orderkey % 1000 + 2) || ')' END AS p25,
                   CASE WHEN o_orderkey % 7 = 0 THEN NULL
                        ELSE 'POINT(' || (o_orderkey % 1000 + 2) || ' '
                             || (o_orderkey % 1000 + 3) || ')' END AS p50,
                   CASE WHEN o_orderkey % 7 = 0 THEN NULL
                        ELSE 'POINT(' || (o_orderkey % 1000 + 4) || ' '
                             || (o_orderkey % 1000 + 5) || ')' END AS p100
            FROM orders
        """,
        # mirrors _q_accessors_lines over the analytic lines fixture
        "accessors_lines": """
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 7 = 0 THEN NULL
                        ELSE CAST(o_orderkey % 1000 AS DOUBLE) END AS sx,
                   CASE WHEN o_orderkey % 7 = 0 THEN NULL
                        ELSE CAST(o_orderkey % 1000 + 1 AS DOUBLE) END AS sy,
                   CASE WHEN o_orderkey % 7 = 0 THEN NULL
                        ELSE CAST(o_orderkey % 1000 + 4 AS DOUBLE) END AS ex,
                   CASE WHEN o_orderkey % 7 = 0 THEN NULL
                        ELSE 'POINT(' || (o_orderkey % 1000 + 2) || ' '
                             || (o_orderkey % 1000 + 3) || ')' END
                       AS p_penult,
                   CASE WHEN o_orderkey % 7 = 0 THEN NULL
                        ELSE 1 END AS n_geoms
            FROM orders
        """,
        # mirrors _q_geo_pipeline: centroid (k+2, k+3), length 4*sqrt(2),
        # zoom-3 tiles of 128; kept k range never touches world edges so
        # no clamps needed
        "geo_pipeline": """
            WITH base AS (
              SELECT o_orderkey % 1000 AS k FROM orders
              WHERE o_orderkey % 7 <> 0
                AND sqrt((o_orderkey % 1000 + 2 - 500.0)
                         * (o_orderkey % 1000 + 2 - 500.0)
                       + (o_orderkey % 1000 + 3 - 500.0)
                         * (o_orderkey % 1000 + 3 - 500.0)) <= 300.0),
            t AS (SELECT k, tx, ty FROM base,
                  unnest(range(k // 128, (k + 4) // 128 + 1)) AS gx(tx),
                  unnest(range((1024 - (k + 5)) // 128,
                               (1024 - (k + 1)) // 128 + 1)) AS gy(ty))
            SELECT 3 AS zoom, tx::INT AS tx, ty::INT AS ty,
                   COUNT(*) AS n_features,
                   ((CASE WHEN (SUM(((CASE WHEN (4 * sqrt(2)) < 0 THEN -1 ELSE 1 END) * floor(abs(4 * sqrt(2)) * 1000000.0 + 0.5) / 1000000.0 + 0.0))) < 0 THEN -1 ELSE 1 END) * floor(abs(SUM(((CASE WHEN (4 * sqrt(2)) < 0 THEN -1 ELSE 1 END) * floor(abs(4 * sqrt(2)) * 1000000.0 + 0.5) / 1000000.0 + 0.0))) * 1000000.0 + 0.5) / 1000000.0 + 0.0) AS total_len
            FROM t GROUP BY tx, ty
        """,
        # mirrors _q_tile_stats: tile cover from the tile_pyramid
        # derivation, grouped; source bboxes are the analytic line boxes
        "tile_stats": """
            WITH base AS (SELECT o_orderkey, o_orderkey % 1000 AS k
                          FROM orders WHERE o_orderkey % 7 <> 0),
            t AS (SELECT o_orderkey, k, tx, ty FROM base,
                  unnest(range(greatest(k // 64, 0),
                               least((k + 4) // 64, 15) + 1)) AS gx(tx),
                  unnest(range(greatest((1024 - (k + 5)) // 64, 0),
                               least((1024 - (k + 1)) // 64, 15) + 1))
                      AS gy(ty))
            SELECT 4 AS zoom, tx::INT AS tx, ty::INT AS ty,
                   COUNT(*) AS n_features,
                   MIN(k)::DOUBLE AS xmin,
                   MIN(k + 1)::DOUBLE AS ymin,
                   MAX(k + 4)::DOUBLE AS xmax,
                   MAX(k + 5)::DOUBLE AS ymax
            FROM t GROUP BY tx, ty
        """,
        # mirrors _q_tile_pyramid: zoom 4 over world (0,0,1024) -> tile
        # size 64, fx = 4096/64 = 64; exact integer MVT coords
        # (x' = 64x - 4096tx, y' = 65536 - 4096ty - 64y, Y flipped)
        "tile_pyramid": """
            WITH base AS (SELECT o_orderkey, o_orderkey % 1000 AS k
                          FROM orders WHERE o_orderkey % 7 <> 0),
            t AS (SELECT o_orderkey, k, tx, ty FROM base,
                  unnest(range(greatest(k // 64, 0),
                               least((k + 4) // 64, 15) + 1)) AS gx(tx),
                  unnest(range(greatest((1024 - (k + 5)) // 64, 0),
                               least((1024 - (k + 1)) // 64, 15) + 1))
                      AS gy(ty))
            SELECT o_orderkey, 4 AS zoom, tx::INT AS tx, ty::INT AS ty,
                   'LINESTRING(' ||
                   (64*k - 4096*tx) || ' ' ||
                   (65536 - 4096*ty - 64*(k+1)) || ',' ||
                   (64*(k+2) - 4096*tx) || ' ' ||
                   (65536 - 4096*ty - 64*(k+3)) || ',' ||
                   (64*(k+4) - 4096*tx) || ' ' ||
                   (65536 - 4096*ty - 64*(k+5)) || ')' AS mvt_wkt
            FROM t
        """,
        # mirrors _q_transform_points: same literal constants and
        # operation order as geo/proj.py (lon*DEG2RAD then *R), same
        # libm tan/ln, 6-dp rounded
        # every literal is ::DOUBLE-cast: DuckDB parses bare decimal
        # literals as DECIMAL and would compute the whole chain in exact
        # decimal arithmetic (the actual r4 transform_points root cause —
        # the decimal product at lon=±159 rounds to …036130 while the
        # IEEE double chain lands on …036131)
        "transform_points": """
            WITH m AS (
              SELECT c_custkey,
                     6378137.0::DOUBLE * ((c_custkey % 360 - 180)
                        * 0.017453292519943295::DOUBLE) AS x,
                     6378137.0::DOUBLE * ln(tan(0.7853981633974483::DOUBLE
                        + ((c_nationkey * 3 - 37.5::DOUBLE)
                           * 0.017453292519943295::DOUBLE) * 0.5::DOUBLE))
                       AS y
              FROM customer)
            SELECT c_custkey,
                   CASE WHEN c_custkey % 7 = 0 THEN NULL
                        ELSE ((CASE WHEN (x) < 0 THEN -1 ELSE 1 END) *
                          floor(abs(x) * 1000000.0 + 0.5) / 1000000.0 + 0.0)
                   END AS mx,
                   CASE WHEN c_custkey % 7 = 0 THEN NULL
                        ELSE ((CASE WHEN (y) < 0 THEN -1 ELSE 1 END) *
                          floor(abs(y) * 1000000.0 + 0.5) / 1000000.0 + 0.0)
                   END AS my,
                   CASE WHEN c_custkey % 7 = 0 THEN NULL
                        ELSE 3857 END AS srid
            FROM m
        """,
        # mirrors _q_transform_utm (see _transform_utm_oracle)
        "transform_utm": _transform_utm_oracle(),
        # mirrors _q_setops_boxes: axis-aligned overlay is analytic —
        # clamped interval product in INTEGER arithmetic (exact), WKT in
        # the engine's canonical layout (min-vertex start, CCW)
        "setops_boxes": """
            WITH t AS (
              SELECT l_orderkey, l_linenumber,
                     l_orderkey % 500 AS x0, l_partkey % 500 AS y0,
                     l_linenumber - 3 AS dx, (l_suppkey % 25) - 7 AS dy
              FROM lineitem),
            g AS (SELECT l_orderkey, l_linenumber,
                         greatest(x0, x0 + dx) AS ix0,
                         least(x0 + 10, x0 + dx + 8) AS ix1,
                         greatest(y0, y0 + dy) AS iy0,
                         least(y0 + 10, y0 + dy + 8) AS iy1
                  FROM t),
            m AS (SELECT l_orderkey, l_linenumber, ix0, ix1, iy0, iy1,
                         CASE WHEN ix1 > ix0 AND iy1 > iy0
                              THEN (ix1 - ix0) * (iy1 - iy0)
                              ELSE 0 END AS ai
                  FROM g)
            SELECT l_orderkey, l_linenumber,
                   CASE WHEN l_orderkey % 7 = 0 THEN NULL
                        WHEN ai > 0 THEN
                          'POLYGON((' ||
                          ix0 || ' ' || iy0 || ',' || ix1 || ' ' || iy0 ||
                          ',' || ix1 || ' ' || iy1 || ',' || ix0 || ' ' ||
                          iy1 || ',' || ix0 || ' ' || iy0 || '))'
                        ELSE 'POLYGON EMPTY' END AS i_wkt,
                   CASE WHEN l_orderkey % 7 = 0 THEN NULL
                        ELSE ai::DOUBLE END AS i_area,
                   CASE WHEN l_orderkey % 7 = 0 THEN NULL
                        ELSE (164 - ai)::DOUBLE END AS u_area,
                   CASE WHEN l_orderkey % 7 = 0 THEN NULL
                        ELSE (100 - ai)::DOUBLE END AS d_area
            FROM m
        """,
        # mirrors _q_relate_boxes: for axis-aligned boxes every DE-9IM
        # predicate reduces to integer interval comparisons (A is the
        # 10x10 box, B the 8x8 box at offset (dx, dy))
        "relate_boxes": """
            WITH t AS (
              SELECT l_orderkey, l_linenumber,
                     l_linenumber - 3 AS dx, (l_suppkey % 25) - 7 AS dy
              FROM lineitem),
            p AS (SELECT l_orderkey, l_linenumber,
                         greatest(0, dx) AS ix0, least(10, dx + 8) AS ix1,
                         greatest(0, dy) AS iy0, least(10, dy + 8) AS iy1,
                         (dx >= 0 AND dx + 8 <= 10
                          AND dy >= 0 AND dy + 8 <= 10) AS cov_ab,
                         FALSE AS cov_ba          -- 8x8 never covers 10x10
                  FROM t),
            r AS (SELECT l_orderkey, l_linenumber, cov_ab, cov_ba,
                         (ix1 >= ix0 AND iy1 >= iy0) AS inter,
                         (ix1 > ix0 AND iy1 > iy0) AS openint
                  FROM p)
            SELECT l_orderkey, l_linenumber,
                   CASE WHEN l_orderkey % 7 = 0 THEN NULL
                        ELSE inter END AS inter,
                   CASE WHEN l_orderkey % 7 = 0 THEN NULL
                        ELSE cov_ab END AS cont,
                   CASE WHEN l_orderkey % 7 = 0 THEN NULL
                        ELSE cov_ab END AS withn,
                   CASE WHEN l_orderkey % 7 = 0 THEN NULL
                        ELSE (inter AND NOT openint) END AS touch,
                   CASE WHEN l_orderkey % 7 = 0 THEN NULL
                        ELSE (openint AND NOT cov_ab AND NOT cov_ba)
                   END AS ovlp
            FROM r
        """,
        # mirrors _q_relate_literal: goldens pinned by tests/test_relate.py
        "relate_literal": """
            SELECT * FROM (VALUES
              (1, FALSE, TRUE,  FALSE, FALSE),
              (2, TRUE,  FALSE, FALSE, FALSE),
              (3, FALSE, TRUE,  FALSE, FALSE),
              (4, FALSE, FALSE, TRUE,  FALSE),
              (5, FALSE, FALSE, FALSE, TRUE),
              (6, FALSE, FALSE, FALSE, TRUE),
              (7, FALSE, TRUE,  FALSE, FALSE),
              (8, FALSE, FALSE, TRUE,  FALSE)
            ) AS v(id, cont, touch, ovlp, crss)
        """,
        # mirrors _q_relate_matrix: matrices hand-derived from the OGC
        # point-set definitions, pinned by tests/test_de9im.py
        "relate_matrix": """
            SELECT * FROM (VALUES
              (1,  'FF20F1FF2', FALSE, FALSE),
              (2,  '0F2FF1FF2', TRUE,  FALSE),
              (3,  'FF2101FF2', FALSE, FALSE),
              (4,  '212101212', FALSE, FALSE),
              (5,  '101FF0212', FALSE, FALSE),
              (6,  '0F1FF0102', FALSE, FALSE),
              (7,  'FF1F00102', FALSE, FALSE),
              (8,  '1010F0102', FALSE, FALSE),
              (9,  'FF2F11212', FALSE, FALSE),
              (10, '212FF1FF2', TRUE,  FALSE),
              (11, '0F1FF0FF2', TRUE,  FALSE),
              (12, '0FFFFF102', FALSE, FALSE)
            ) AS v(id, de9im, contains_pat, disjoint_pat)
        """,
        # mirrors _q_pagerank_neardup: unrolled integer rounds
        "pagerank_neardup": _pagerank_oracle(),
        # mirrors _q_hilbert_keys: the CTE-chained walk from the same
        # generator family (operators/layout.py hilbert_key_sql_query)
        "hilbert_keys": __import__(
            "datafusion_geo_spark.operators.layout",
            fromlist=["hilbert_key_sql_query"]).hilbert_key_sql_query(
                "c_custkey", "(c_custkey % 360 - 180)",
                "(c_nationkey * 3 - 37.5)",
                (-180.0, -37.5, 180.0, 37.5), 8,
                "customer WHERE c_custkey % 7 <> 0",
                key_name="c_custkey"),
        # mirrors _q_quality_filter: same integer-exact scores, the
        # P25 threshold via quantile_cont == Spark percentile
        "quality_filter": f"""
            WITH toks AS (
              SELECT doc_id, unnest({_WORDS_LOWER}) AS w FROM documents
            ), vocab AS (
              SELECT w, COUNT(*)::BIGINT AS cnt FROM toks GROUP BY w
            ), tot AS (
              SELECT COUNT(*)::BIGINT AS total FROM toks
            ), lp AS (
              SELECT t.doc_id,
                     CAST((CASE WHEN ln(v.cnt::DOUBLE / tot.total::DOUBLE)
                                     < 0 THEN -1 ELSE 1 END)
                          * floor(abs(ln(v.cnt::DOUBLE / tot.total::DOUBLE))
                                  * 1000000.0 + 0.5) AS BIGINT) AS lp
              FROM toks t JOIN vocab v USING (w), tot
            ), scored AS (
              SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
                     CAST(SUM(lp) AS BIGINT) AS lp_micro_sum
              FROM lp GROUP BY doc_id
            ), s2 AS (
              SELECT *, lp_micro_sum::DOUBLE / n_tokens AS score
              FROM scored WHERE n_tokens > 0
            ), thr AS (
              SELECT quantile_cont(score, 0.25) AS t FROM s2
            )
            SELECT doc_id, n_tokens, lp_micro_sum
            FROM s2, thr WHERE score >= t
        """,
        # mirrors _q_longest_line_literal: exact surd goldens
        "longest_line_literal": """
            SELECT * FROM (VALUES
              (1, 15.620499, 'LINESTRING(0 0,12 10)'),
              (2, 11.18034, 'LINESTRING(0 0,10 5)'),
              (3, 5.0, 'LINESTRING(0 0,3 4)'),
              (4, 6.403124, 'LINESTRING(0 0,4 5)')
            ) AS v(id, maxd, ll_wkt)
        """,
        # mirrors _q_streaming_map_match: batch argmin twin (identical
        # clamped-projection arithmetic, lowest-orderkey tie inside the
        # struct-MIN)
        "streaming_map_match": """
            WITH e AS (
              SELECT event_id,
                     (user_id % 360 - 180)::DOUBLE AS px,
                     ((user_id % 25) * 3 - 37.5)::DOUBLE AS py
              FROM events WHERE user_id IS NOT NULL
            ), segs AS (
              SELECT o_orderkey,
                     (o_orderkey % 1000)::DOUBLE AS ax,
                     (o_orderkey % 1000 + 1)::DOUBLE AS ay,
                     (o_orderkey % 1000 + 4)::DOUBLE AS bx,
                     (o_orderkey % 1000 + 5)::DOUBLE AS by
              FROM orders WHERE o_orderkey % 97 = 0
            ), scored AS (
              SELECT event_id, o_orderkey,
                     (px - (ax + GREATEST(0.0, LEAST(1.0,
                        ((px - ax) * (bx - ax) + (py - ay) * (by - ay))
                        / ((bx - ax) * (bx - ax) + (by - ay) * (by - ay))
                      )) * (bx - ax)))
                     * (px - (ax + GREATEST(0.0, LEAST(1.0,
                        ((px - ax) * (bx - ax) + (py - ay) * (by - ay))
                        / ((bx - ax) * (bx - ax) + (by - ay) * (by - ay))
                      )) * (bx - ax)))
                     + (py - (ay + GREATEST(0.0, LEAST(1.0,
                        ((px - ax) * (bx - ax) + (py - ay) * (by - ay))
                        / ((bx - ax) * (bx - ax) + (by - ay) * (by - ay))
                      )) * (by - ay)))
                     * (py - (ay + GREATEST(0.0, LEAST(1.0,
                        ((px - ax) * (bx - ax) + (py - ay) * (by - ay))
                        / ((bx - ax) * (bx - ax) + (by - ay) * (by - ay))
                      )) * (by - ay))) AS d2
              FROM e, segs
            ), best AS (
              SELECT event_id, o_orderkey FROM (
                SELECT event_id, o_orderkey,
                       row_number() OVER (PARTITION BY event_id
                                          ORDER BY d2, o_orderkey) AS rn
                FROM scored WHERE d2 <= 25.0) t
              WHERE rn = 1
            )
            SELECT o_orderkey, COUNT(*) AS n_matches
            FROM best GROUP BY o_orderkey
        """,
        # mirrors _q_buildarea_literal: goldens pinned from the
        # even-odd face-parity semantics (donut 64, dissolve 100,
        # triple nesting 272)
        "buildarea_literal": """
            SELECT * FROM (VALUES
              (1, 'POLYGON((0 0,10 0,10 10,0 10,0 0))', 100.0),
              (2, 'POLYGON((0 0,10 0,10 10,0 10,0 0),(2 2,2 8,8 8,8 2,2 2))', 64.0),
              (3, 'POLYGON((0 0,5 0,10 0,10 10,5 10,0 10,0 0))', 100.0),
              (4, 'MULTIPOLYGON(((8 8,12 8,12 12,8 12,8 8)),((0 0,20 0,20 20,0 20,0 0),(4 4,4 16,16 16,16 4,4 4)))', 272.0),
              (5, 'POLYGON((0 0,4 0,4 4,0 4,0 0))', 16.0),
              (6, 'POLYGON EMPTY', 0.0)
            ) AS v(id, area_wkt, area)
        """,
        # mirrors _q_vocab_encode: same count-desc/term-asc vocabulary
        # order, OOV id 0, string_agg ORDER BY pos replays the array
        "vocab_encode": f"""
            WITH d AS (
              SELECT doc_id, {_WORDS} AS w FROM documents
              WHERE doc_id < 200
            ), toks AS (
              SELECT doc_id, i AS pos, w[i::INT] AS tok
              FROM d, unnest(range(1, len(w) + 1)) AS t(i)
            ), counts AS (
              SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
            ), vocab AS (
              SELECT tok, row_number() OVER (
                       ORDER BY n DESC, tok ASC) AS tid
              FROM counts QUALIFY tid <= 128
            )
            SELECT doc_id,
                   string_agg(CAST(COALESCE(v.tid, 0) AS VARCHAR), ' '
                              ORDER BY pos) AS ids_str,
                   COUNT(*)::INT AS n_tokens,
                   SUM(CASE WHEN v.tid IS NULL THEN 1 ELSE 0 END)::BIGINT
                     AS n_oov
            FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
            GROUP BY doc_id
        """,
        # mirrors _q_session_window_agg: gap sessionization with the
        # session_window convention end = max(ts) + gap
        "session_window_agg": """
            WITH d AS (
                SELECT user_id, event_id, ts,
                       CAST(ROUND(value * 100) AS BIGINT) AS cents,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS brk
                FROM events WHERE ts IS NOT NULL
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
                SELECT user_id, ts, cents,
                       SUM(brk) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sid
                FROM d
            )
            SELECT user_id,
                   epoch_us(MIN(ts)) AS start_us,
                   epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS end_us,
                   COUNT(*)::BIGINT AS n_events,
                   SUM(cents)::BIGINT AS sum_cents
            FROM s GROUP BY user_id, sid
        """,
        # mirrors _q_streaming_hexbin: same hex arithmetic as
        # hexbin_customers over the event lattice points
        "streaming_hexbin": """
            WITH p AS (
              SELECT (user_id % 360 - 180)::DOUBLE AS x,
                     ((user_id % 25) * 3 - 37.5)::DOUBLE AS y
              FROM events WHERE user_id IS NOT NULL
            ), ax AS (
              SELECT (0.5773502691896257 * x - 0.3333333333333333 * y)
                       / 12.0 AS fq,
                     (0.6666666666666666 * y) / 12.0 AS fr
              FROM p
            ), rnd AS (
              SELECT fq, fr, (-fq - fr) AS fs,
                     floor(fq + 0.5) AS rq,
                     floor(fr + 0.5) AS rr,
                     floor((-fq - fr) + 0.5) AS rs
              FROM ax
            ), fixed AS (
              SELECT CASE WHEN abs(rq - fq) > abs(rr - fr)
                           AND abs(rq - fq) > abs(rs - fs)
                          THEN -rr - rs ELSE rq END AS q,
                     CASE WHEN NOT (abs(rq - fq) > abs(rr - fr)
                                    AND abs(rq - fq) > abs(rs - fs))
                           AND abs(rr - fr) > abs(rs - fs)
                          THEN -rq - rs ELSE rr END AS r
              FROM rnd
            )
            SELECT CAST(q AS BIGINT) AS q, CAST(r AS BIGINT) AS r,
                   COUNT(*) AS n
            FROM fixed GROUP BY 1, 2
        """,
        # mirrors _q_map_match: identical clamped-projection formula,
        # exact arithmetic, lowest-orderkey tie-break
        "map_match": """
            WITH pts AS (
              SELECT c_custkey,
                     (c_custkey % 360 - 180)::DOUBLE AS px,
                     (c_nationkey * 3 - 37.5)::DOUBLE AS py
              FROM customer
              WHERE c_custkey % 7 <> 0 AND c_custkey % 13 = 0
            ), segs AS (
              SELECT o_orderkey,
                     (o_orderkey % 1000)::DOUBLE AS ax,
                     (o_orderkey % 1000 + 1)::DOUBLE AS ay,
                     (o_orderkey % 1000 + 4)::DOUBLE AS bx,
                     (o_orderkey % 1000 + 5)::DOUBLE AS by
              FROM orders WHERE o_orderkey % 7 <> 0
            ), cand AS (
              SELECT c_custkey, o_orderkey,
                     GREATEST(0.0, LEAST(1.0,
                       ((px - ax) * (bx - ax) + (py - ay) * (by - ay))
                       / ((bx - ax) * (bx - ax) + (by - ay) * (by - ay))
                     )) AS t,
                     px, py, ax, ay, bx, by
              FROM pts, segs
            ), scored AS (
              SELECT c_custkey, o_orderkey, t,
                     (px - (ax + t * (bx - ax)))
                       * (px - (ax + t * (bx - ax)))
                     + (py - (ay + t * (by - ay)))
                       * (py - (ay + t * (by - ay))) AS d2
              FROM cand
            )
            SELECT c_custkey, o_orderkey,
                   ((CASE WHEN sqrt(d2) < 0 THEN -1 ELSE 1 END)
                    * floor(abs(sqrt(d2)) * 1000000.0 + 0.5)
                    / 1000000.0 + 0.0) AS dist,
                   ((CASE WHEN t < 0 THEN -1 ELSE 1 END)
                    * floor(abs(t) * 1000000.0 + 0.5)
                    / 1000000.0 + 0.0) AS t
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY c_custkey
                    ORDER BY d2, o_orderkey) AS rn
                  FROM scored WHERE d2 <= 25.0) s
            WHERE rn = 1
        """,
        # mirrors _q_geometric_median: unrolled Weiszfeld replay
        "geometric_median": _gmedian_oracle(),
        # mirrors _q_sphere_nav: identical spherical-trig literals and
        # operation order (Python math == DuckDB libm)
        # mirrors _q_sphere_area: JPL box edge terms + haversine ring
        # fold, identical literals/op order (Python math == DuckDB libm)
        "sphere_area": _sphere_area_oracle(),
        "sphere_nav": """
            WITH p AS (
              SELECT c_custkey,
                     (c_custkey % 360 - 180)::DOUBLE AS x,
                     (c_nationkey * 3 - 37.5)::DOUBLE AS y
              FROM customer WHERE c_custkey % 7 <> 0
            ), az AS (
              SELECT c_custkey, x, y,
                     -- sphere_azimuth(x, y, 0, 0)
                     CASE WHEN atan2(
                         sin((0.0 - x) * 0.017453292519943295) * cos(0.0),
                         cos(y * 0.017453292519943295) * sin(0.0)
                         - sin(y * 0.017453292519943295) * cos(0.0)
                           * cos((0.0 - x) * 0.017453292519943295)
                       ) < 0
                     THEN atan2(
                         sin((0.0 - x) * 0.017453292519943295) * cos(0.0),
                         cos(y * 0.017453292519943295) * sin(0.0)
                         - sin(y * 0.017453292519943295) * cos(0.0)
                           * cos((0.0 - x) * 0.017453292519943295)
                       ) + 6.283185307179586
                     ELSE atan2(
                         sin((0.0 - x) * 0.017453292519943295) * cos(0.0),
                         cos(y * 0.017453292519943295) * sin(0.0)
                         - sin(y * 0.017453292519943295) * cos(0.0)
                           * cos((0.0 - x) * 0.017453292519943295)
                       ) END AS azv
              FROM p
            ), pr AS (
              SELECT c_custkey, azv, x, y,
                     sin(y * 0.017453292519943295) * cos(100000.0 / 6371008.0)
                     + cos(y * 0.017453292519943295)
                       * sin(100000.0 / 6371008.0) * cos(0.7) AS sphi2
              FROM az
            ), dest AS (
              SELECT c_custkey, azv,
                     x * 0.017453292519943295
                     + atan2(sin(0.7) * sin(100000.0 / 6371008.0)
                             * cos(y * 0.017453292519943295),
                             cos(100000.0 / 6371008.0)
                             - sin(y * 0.017453292519943295) * sphi2)
                       AS lam2,
                     asin(sphi2) AS phi2
              FROM pr
            ), deg AS (
              SELECT c_custkey, azv,
                     lam2 * 57.29577951308232 AS lon2r,
                     phi2 * 57.29577951308232 AS lat2
              FROM dest
            )
            SELECT c_custkey,
                   ((CASE WHEN azv < 0 THEN -1 ELSE 1 END)
                    * floor(abs(azv) * 1000000.0 + 0.5)
                    / 1000000.0 + 0.0) AS az,
                   ((CASE WHEN lon2 < 0 THEN -1 ELSE 1 END)
                    * floor(abs(lon2) * 1000000.0 + 0.5)
                    / 1000000.0 + 0.0) AS dlon,
                   ((CASE WHEN lat2 < 0 THEN -1 ELSE 1 END)
                    * floor(abs(lat2) * 1000000.0 + 0.5)
                    / 1000000.0 + 0.0) AS dlat
            FROM (SELECT c_custkey, azv, lat2,
                         CASE WHEN lon2r > 180.0 THEN lon2r - 360.0
                              WHEN lon2r < -180.0 THEN lon2r + 360.0
                              ELSE lon2r END AS lon2
                  FROM deg) t
        """,
        # mirrors _q_zonal_stats: inclusive range join + exact sums
        "zonal_stats": """
            WITH p AS (
              SELECT c_custkey,
                     (c_custkey % 360 - 180)::DOUBLE AS x,
                     (c_nationkey * 3 - 37.5)::DOUBLE AS y
              FROM customer WHERE c_custkey % 7 <> 0
            ), z AS (
              SELECT n_nationkey,
                     n_nationkey::DOUBLE AS xmin,
                     n_regionkey::DOUBLE AS ymin,
                     (n_nationkey + 5)::DOUBLE AS xmax,
                     (n_regionkey + 5)::DOUBLE AS ymax
              FROM nation
            )
            SELECT n_nationkey, COUNT(*) AS n_points,
                   SUM(c_custkey)::BIGINT AS key_sum
            FROM p JOIN z
              ON x >= xmin AND x <= xmax AND y >= ymin AND y <= ymax
            GROUP BY n_nationkey
        """,
        # mirrors _q_accessors2_literal: exact-integer goldens
        "accessors2_literal": """
            SELECT * FROM (VALUES
              (1, FALSE, 2, 'LINESTRING(0 0,10 0,10 10,0 10,0 0)',
                  'LINESTRING(6 6,8 6,8 8,6 8,6 6)', 2,
                  'LINESTRING(0 0,10 10)'),
              (2, FALSE, 2, 'LINESTRING(0 0,3 0,3 3,0 3,0 0)',
                  NULL, 0, 'LINESTRING(0 0,3 3)'),
              (3, FALSE, 1, NULL, NULL, NULL, 'LINESTRING(1 2,5 8)'),
              (4, FALSE, 0, NULL, NULL, NULL, 'LINESTRING(7 7,7 7)'),
              (5, TRUE, 0, NULL, NULL, NULL, 'LINESTRING EMPTY'),
              (6, FALSE, 1, NULL, NULL, NULL, 'LINESTRING(0 0,2 2)')
            ) AS v(id, empty, dim, shell_wkt, hole2_wkt, n_holes,
                   diag_wkt)
        """,
        # mirrors _q_random_projection: same quantization CTE as
        # embed_quantize, same md5-nibble-parity sign derivation,
        # exact integer sums
        "random_projection": """
            WITH base AS (
              SELECT vec_id,
                     list_transform(embedding,
                                    x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings WHERE vec_id < 200
            ), m AS (
              SELECT vec_id, v,
                     list_max(list_transform(v, x -> abs(x))) / 127.0
                     AS scale
              FROM base
            ), qq AS (
              SELECT vec_id,
                     list_transform(v, x -> CAST(
                       (CASE WHEN x / scale < 0 THEN -1 ELSE 1 END)
                       * floor(abs(x / scale) + 0.5) AS BIGINT)) AS q
              FROM m
            ), pos AS (
              SELECT vec_id, (j - 1)::BIGINT AS j, q[j::INT] AS x
              FROM qq, unnest(range(1, len(q) + 1)) AS t(j)
            ), ks AS (SELECT k::INT AS k FROM range(16) AS r(k))
            SELECT vec_id, k,
                   SUM(x * (CASE WHEN
                     ('0x' || substr(md5('rp1|' || CAST(j AS VARCHAR)
                        || '|' || CAST(k AS VARCHAR)), 1, 1))::BIGINT
                     % 2 = 0 THEN 1 ELSE -1 END))::BIGINT AS proj_int
            FROM pos, ks
            GROUP BY vec_id, k
        """,
        # mirrors _q_graph_stats: oriented triangle enumeration
        "graph_stats": f"""
            WITH pairs AS (SELECT id_a, id_b FROM ({_minhash_oracle()}) t),
            e AS (
              SELECT DISTINCT LEAST(id_a, id_b) AS a,
                              GREATEST(id_a, id_b) AS b
              FROM pairs WHERE id_a <> id_b
            ), verts AS (
              SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e
            ), deg AS (
              SELECT v, COUNT(*) AS deg FROM verts GROUP BY v
            )
            SELECT (SELECT COUNT(*) FROM deg) AS n_vertices,
                   (SELECT COUNT(*) FROM e) AS n_edges,
                   (SELECT MAX(deg) FROM deg) AS max_degree,
                   (SELECT COUNT(*)
                    FROM e e1 JOIN e e2 ON e1.b = e2.a
                              JOIN e e3 ON e3.a = e1.a
                                       AND e3.b = e2.b) AS n_triangles
        """,
        # mirrors _q_audio_frames: per-character ord == byte value on
        # the ASCII-filtered corpus; all-integer window reductions
        "audio_frames": """
            WITH d AS (
              SELECT doc_id, text FROM documents
              WHERE regexp_matches(text, '^[\\x00-\\x7F]*$')
            ), b AS (
              SELECT doc_id,
                     list_transform(range(1, length(text) + 1),
                                    i -> ord(substr(text, i::INT, 1)))
                       AS bytes
              FROM d WHERE length(text) > 0
            ), frames AS (
              SELECT doc_id, f AS frame_idx,
                     list_slice(bytes, f * 256 + 1, f * 256 + 256) AS win
              FROM b, unnest(range((len(bytes) + 255) // 256)) AS t(f)
            ), stats AS (
              SELECT doc_id, frame_idx, len(win) AS n_samples,
                     list_sum(win) // len(win) AS m, win
              FROM frames WHERE len(win) > 0
            )
            SELECT doc_id, frame_idx::INT AS frame_idx,
                   n_samples::INT AS n_samples,
                   CAST(list_sum(list_transform(win,
                        v -> (v - m) * (v - m))) AS BIGINT) AS sum_sq,
                   CAST(COALESCE(list_sum(list_transform(
                        range(1, len(win)),
                        i -> CASE WHEN (win[i::INT] - m < 0)
                                  <> (win[(i + 1)::INT] - m < 0)
                             THEN 1 ELSE 0 END)), 0) AS INT) AS zcr
            FROM stats
        """,
        # mirrors _q_sphere_paths: identical haversine (libm ==
        # Python math), per-segment micro-int rounding, exact SUM
        "sphere_paths": """
            WITH p AS (
              SELECT c_mktsegment, c_custkey,
                     (c_custkey % 360 - 180)::DOUBLE AS x,
                     (c_nationkey * 3 - 37.5)::DOUBLE AS y
              FROM customer WHERE c_custkey % 7 <> 0
            ), lagged AS (
              SELECT c_mktsegment, x, y,
                     lag(x) OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_custkey) AS lx,
                     lag(y) OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_custkey) AS ly
              FROM p
            ), seg AS (
              SELECT c_mktsegment,
                2.0 * 6371008.0 * asin(sqrt(LEAST(1.0,
                    sin(((ly - y) * 0.017453292519943295) / 2.0)
                    * sin(((ly - y) * 0.017453292519943295) / 2.0)
                  + cos(y * 0.017453292519943295)
                    * cos(ly * 0.017453292519943295)
                    * sin(((lx - x) * 0.017453292519943295) / 2.0)
                    * sin(((lx - x) * 0.017453292519943295) / 2.0)
                ))) AS d
              FROM lagged WHERE lx IS NOT NULL
            )
            SELECT c_mktsegment,
                   SUM(CAST(floor(d * 1000000.0 + 0.5) AS BIGINT))::BIGINT
                     AS path_um,
                   COUNT(*) AS n_segs
            FROM seg GROUP BY c_mktsegment
        """,
        # mirrors _q_minhash_eval: both pair replays + the metrics row
        "minhash_eval": _minhash_eval_oracle(),
        # mirrors _q_hexbin_customers: identical IEEE arithmetic (same
        # literals, same order — +,*,/,floor only, no libm) so the
        # cube rounding picks the same cell in both engines
        "hexbin_customers": """
            WITH p AS (
              SELECT (c_custkey % 360 - 180)::DOUBLE AS x,
                     (c_nationkey * 3 - 37.5)::DOUBLE AS y
              FROM customer WHERE c_custkey % 7 <> 0
            ), ax AS (
              SELECT (0.5773502691896257 * x - 0.3333333333333333 * y)
                       / 12.0 AS fq,
                     (0.6666666666666666 * y) / 12.0 AS fr
              FROM p
            ), rnd AS (
              SELECT fq, fr, (-fq - fr) AS fs,
                     floor(fq + 0.5) AS rq,
                     floor(fr + 0.5) AS rr,
                     floor((-fq - fr) + 0.5) AS rs
              FROM ax
            ), fixed AS (
              SELECT CASE WHEN abs(rq - fq) > abs(rr - fr)
                           AND abs(rq - fq) > abs(rs - fs)
                          THEN -rr - rs ELSE rq END AS q,
                     CASE WHEN NOT (abs(rq - fq) > abs(rr - fr)
                                    AND abs(rq - fq) > abs(rs - fs))
                           AND abs(rr - fr) > abs(rs - fs)
                          THEN -rq - rs ELSE rr END AS r
              FROM rnd
            )
            SELECT CAST(q AS BIGINT) AS q, CAST(r AS BIGINT) AS r,
                   COUNT(*) AS n
            FROM fixed GROUP BY 1, 2
        """,
        # mirrors _q_negative_buffer: analytic erosion areas (row 4's
        # reflex-joint arcs make its area quadsegs-determined, pinned)
        "negative_buffer": """
            SELECT * FROM (VALUES
              (1, 36.0, 'ST_Polygon', 1),
              (2, 0.0, 'ST_Polygon', 0),
              (3, 28.0, 'ST_MultiPolygon', 2),
              (4, 30.894521, 'ST_MultiPolygon', 2),
              (5, 0.0, 'ST_Polygon', 0)
            ) AS v(id, area, gtype, nparts)
        """,
        # mirrors _q_streaming_geofence: covers on an axis-aligned box
        # is exactly the inclusive bbox condition
        "streaming_geofence": """
            WITH f AS (
              SELECT n_nationkey AS fence_id,
                     (n_nationkey * 13 % 340 - 170)::DOUBLE AS fx0,
                     (n_nationkey * 3 - 37)::DOUBLE AS fy0
              FROM nation
            ), e AS (
              SELECT user_id, value,
                     (user_id % 360 - 180)::DOUBLE AS px,
                     ((user_id % 25) * 3 - 37.5)::DOUBLE AS py
              FROM events WHERE user_id IS NOT NULL
            )
            SELECT fence_id, COUNT(*) AS n_hits,
                   SUM(CAST(ROUND(value * 100) AS BIGINT))::BIGINT AS sum_cents
            FROM e JOIN f
              ON px >= fx0 AND px <= fx0 + 20
             AND py >= fy0 AND py <= fy0 + 8
            GROUP BY fence_id
        """,
        # mirrors _q_trajectories: string_agg ORDER BY replays the
        # sorted-struct vertex order; double casts print identically
        "trajectories": """
            SELECT l_orderkey,
                   CASE WHEN COUNT(*) >= 2 THEN
                     'LINESTRING(' || string_agg(
                        CAST(x AS VARCHAR) || ' ' || CAST(y AS VARCHAR),
                        -- (x, y) tie-break mirrors the struct sort: the
                        -- synthetic lineitem repeats l_linenumber
                        ',' ORDER BY l_linenumber, x, y) || ')'
                   ELSE 'LINESTRING EMPTY' END AS traj_wkt,
                   COUNT(*) AS n_pts
            FROM (SELECT l_orderkey, l_linenumber,
                         (l_orderkey % 1000)::DOUBLE AS x,
                         (l_partkey % 1000)::DOUBLE AS y
                  FROM lineitem WHERE l_orderkey % 7 <> 0) p
            GROUP BY l_orderkey
        """,
        # mirrors _q_tile_normalize_literal: exact mercator tile bounds
        # + canonical-form goldens
        "tile_normalize_literal": """
            SELECT * FROM (VALUES
              (1, 'POLYGON((-20037508.342789244 -20037508.342789244,20037508.342789244 -20037508.342789244,20037508.342789244 20037508.342789244,-20037508.342789244 20037508.342789244,-20037508.342789244 -20037508.342789244))',
                  3857, 'POLYGON((0 0,2 0,2 2,0 2,0 0))'),
              (2, 'POLYGON((0 0,20037508.342789244 0,20037508.342789244 20037508.342789244,0 20037508.342789244,0 0))',
                  3857, 'LINESTRING(0 0,5 5)'),
              (3, 'POLYGON((-10018754.171394622 -10018754.171394622,0 -10018754.171394622,0 0,-10018754.171394622 0,-10018754.171394622 -10018754.171394622))',
                  3857, 'MULTIPOINT(1 1,2 2,3 3)'),
              (4, 'POLYGON((15028131.257091936 -20037508.342789248,20037508.342789248 -20037508.342789248,20037508.342789248 -15028131.257091936,15028131.257091936 -15028131.257091936,15028131.257091936 -20037508.342789248))',
                  3857, 'MULTIPOLYGON(((0 0,1 0,1 1,0 1,0 0)),((5 5,6 5,6 6,5 6,5 5)))')
            ) AS v(id, tile_wkt, tile_srid, norm_wkt)
        """,
        # mirrors _q_kmeans_clusters: unrolled Lloyd replay
        "kmeans_clusters": _kmeans_oracle(),
        # mirrors _q_distance_sphere: same haversine literals and
        # operation order; Python math == DuckDB libm bit-for-bit
        "distance_sphere": """
            WITH p AS (
              SELECT c_custkey,
                     CASE WHEN c_custkey % 7 = 0 THEN NULL
                          ELSE (c_custkey % 360 - 180)::DOUBLE END AS x,
                     (c_nationkey * 3 - 37.5)::DOUBLE AS y
              FROM customer
            )
            SELECT c_custkey,
              CASE WHEN x IS NULL THEN NULL ELSE
                ((CASE WHEN h < 0 THEN -1 ELSE 1 END)
                 * floor(abs(h) * 1000000.0 + 0.5) / 1000000.0 + 0.0)
              END AS dist_m
            FROM (
              SELECT c_custkey, x,
                2.0 * 6371008.0 * asin(sqrt(LEAST(1.0,
                    sin(((0.0 - y) * 0.017453292519943295) / 2.0)
                    * sin(((0.0 - y) * 0.017453292519943295) / 2.0)
                  + cos(y * 0.017453292519943295) * cos(0.0)
                    * sin(((0.0 - x) * 0.017453292519943295) / 2.0)
                    * sin(((0.0 - x) * 0.017453292519943295) / 2.0)
                ))) AS h
              FROM p) t
        """,
        # mirrors _q_retention_cohorts: cohort day x offset counts
        "retention_cohorts": """
            WITH a AS (
              SELECT DISTINCT user_id AS uid, CAST(ts AS DATE) AS d
              FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
            ), f AS (
              SELECT uid, MIN(d) AS cohort_day FROM a GROUP BY uid
            )
            SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort,
                   (d - cohort_day) AS day_offset,
                   COUNT(DISTINCT a.uid) AS users
            FROM a JOIN f USING (uid)
            GROUP BY cohort_day, (d - cohort_day)
        """,
        # mirrors _q_funnel_conversion: chained earliest-qualifying
        # stage times, exactly the operator's join-aggregate ladder
        "funnel_conversion": """
            WITH v AS (
              SELECT user_id AS uid, MIN(ts) AS st FROM events
              WHERE event_type = 'view' GROUP BY user_id
            ), c AS (
              SELECT e.user_id AS uid, MIN(e.ts) AS st
              FROM events e JOIN v ON e.user_id = v.uid
              WHERE e.event_type = 'click' AND e.ts >= v.st
              GROUP BY e.user_id
            ), p AS (
              SELECT e.user_id AS uid, MIN(e.ts) AS st
              FROM events e JOIN c ON e.user_id = c.uid
              WHERE e.event_type = 'purchase' AND e.ts >= c.st
              GROUP BY e.user_id
            )
            SELECT 1 AS stage_idx, 'view' AS stage,
                   (SELECT COUNT(*) FROM v) AS users
            UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM c)
            UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM p)
        """,
        # mirrors _q_seeded_shuffle: identical md5 digests order rows
        # the same way in both engines (lowercase hex, ASCII collation)
        "seeded_shuffle": """
            SELECT doc_id,
                   row_number() OVER (
                     ORDER BY md5('epoch1|' || CAST(doc_id AS VARCHAR)),
                              CAST(doc_id AS VARCHAR)) AS shuffle_order
            FROM documents
        """,
        # mirrors _q_incremental_dedup: anti-join on the shared h64
        # hash, min-doc_id canonical within the batch
        "incremental_dedup": """
            WITH seen AS (
              SELECT DISTINCT
                     ('0x' || substr(md5(text), 1, 8))::BIGINT AS h
              FROM documents WHERE doc_id % 3 = 0
            ), nb AS (
              SELECT doc_id, lang, source,
                     ('0x' || substr(md5(text), 1, 8))::BIGINT AS h
              FROM documents WHERE doc_id % 3 <> 0
            ), fresh AS (
              SELECT * FROM nb
              WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.h = nb.h)
            )
            SELECT doc_id, lang, source FROM (
              SELECT *, row_number() OVER (
                          PARTITION BY h ORDER BY doc_id) AS rn
              FROM fresh) t
            WHERE rn = 1
        """,
        # mirrors _q_offset_clip_literal: exact-integer goldens
        # (quadsegs=1 joints land on exact vector normals)
        "offset_clip_literal": """
            SELECT * FROM (VALUES
              (1, 'LINESTRING(0 1,10 1)', 'LINESTRING(10 -1,0 -1)',
                  'GEOMETRYCOLLECTION(MULTILINESTRING EMPTY,MULTILINESTRING((2 0,6 0)))',
                  'POLYGON((5 5,10 5,10 10,5 10,5 5))'),
              (2, 'LINESTRING(0 1,9 1,9 10)',
                  'LINESTRING(11 10,11 0,10 -1,0 -1)',
                  'GEOMETRYCOLLECTION(MULTILINESTRING((0 0,4 0)),MULTILINESTRING EMPTY)',
                  'LINESTRING EMPTY'),
              (3, 'LINESTRING(0 1,5 1,5 6)',
                  'LINESTRING(7 6,7 0,6 -1,0 -1)',
                  'GEOMETRYCOLLECTION(MULTILINESTRING((1 0,3 0)),MULTILINESTRING((4 0,5 0)))',
                  'POLYGON((5 5,14 5,14 14,5 14,5 5))')
            ) AS v(id, oc_left, oc_right, sp_wkt, clip_wkt)
        """,
        # mirrors _q_mic_snap_literal: exact centers for symmetric
        # shapes; the holed-square pocket center/radius are the
        # deterministic polylabel outputs tests/test_mic_snap.py bounds
        "mic_snap_literal": """
            SELECT * FROM (VALUES
              (1, 'POINT(5 5)', 5.0, 'LINESTRING(0 0,5 0.2,10 0)'),
              (2, 'POINT(10 2)', 2.0, 'LINESTRING(0 0,5 5)'),
              (3, 'POINT(1.171875 1.171875)', 1.171146,
                  'POLYGON((0.2 0.1,5 -0.3,10 0,10 10,0 10,0.2 0.1))')
            ) AS v(id, mic_wkt, mic_r, snap_wkt)
        """,
        # mirrors _q_spatial_knn_join: brute-force kNN with identical
        # exact-arithmetic d2 ordering and right-key tie-break
        "spatial_knn_join": """
            WITH p AS (
              SELECT c_custkey,
                     (c_custkey % 360 - 180)::DOUBLE AS x,
                     (c_nationkey * 3 - 37.5)::DOUBLE AS y
              FROM customer WHERE c_custkey % 7 <> 0
            ), l AS (SELECT * FROM p WHERE c_custkey % 97 = 0)
            SELECT lkey, rkey, rn,
                   ((CASE WHEN sqrt(d2) < 0 THEN -1 ELSE 1 END)
                    * floor(abs(sqrt(d2)) * 1000000.0 + 0.5)
                    / 1000000.0 + 0.0) AS dist
            FROM (
              SELECT l.c_custkey AS lkey, p.c_custkey AS rkey,
                     ((l.x - p.x) * (l.x - p.x)
                      + (l.y - p.y) * (l.y - p.y)) AS d2,
                     row_number() OVER (
                       PARTITION BY l.c_custkey
                       ORDER BY ((l.x - p.x) * (l.x - p.x)
                                 + (l.y - p.y) * (l.y - p.y)),
                                p.c_custkey) AS rn
              FROM l, p) t
            WHERE rn <= 3
        """,
        # mirrors _q_triangulate_literal: deterministic pinned outputs
        # (correctness is property-gated in tests/test_triangulate.py)
        "triangulate_literal": """
            SELECT * FROM (VALUES
              (1, 'GEOMETRYCOLLECTION(POLYGON((0 0,10 0,0 10,0 0)),POLYGON((0 10,10 0,10 10,0 10)))',
                  'MULTILINESTRING((0 0,0 10),(0 0,10 0),(0 10,10 0),(0 10,10 10),(10 0,10 10))',
                  'GEOMETRYCOLLECTION(POLYGON((-10 -10,5 -10,5 5,-10 5,-10 -10)),POLYGON((5 20,-10 20,-10 5,5 5,5 20)),POLYGON((5 -10,20 -10,20 5,5 5,5 -10)),POLYGON((20 5,20 20,5 20,5 5,20 5)))',
                  100.0, 25),
              (2, 'GEOMETRYCOLLECTION(POLYGON((0 0,10 0,5 8,0 0)))',
                  'MULTILINESTRING((0 0,5 8),(0 0,10 0),(5 8,10 0))',
                  'GEOMETRYCOLLECTION(POLYGON((-10 -10,5 -10,5 2.4375,-10 11.8125,-10 -10)),POLYGON((20 11.8125,20 18,-10 18,-10 11.8125,5 2.4375,20 11.8125)),POLYGON((5 -10,20 -10,20 11.8125,5 2.4375,5 -10)))',
                  40.0, 25),
              (3, 'GEOMETRYCOLLECTION(POLYGON((0 0,2 7,0 10,0 0)),POLYGON((0 0,5 5,2 7,0 0)),POLYGON((0 0,10 0,5 5,0 0)),POLYGON((0 10,2 7,10 10,0 10)),POLYGON((2 7,5 5,10 10,2 7)),POLYGON((5 5,10 0,10 10,5 5)))',
                  'MULTILINESTRING((0 0,0 10),(0 0,2 7),(0 0,5 5),(0 0,10 0),(0 10,2 7),(0 10,10 10),(2 7,5 5),(2 7,10 10),(5 5,10 0),(5 5,10 10),(10 0,10 10))',
                  'GEOMETRYCOLLECTION(POLYGON((-10 -10,5 -10,5 0,1.7 3.3,-4.25 5,-10 5,-10 -10)),POLYGON((5 20,-10 20,-10 5,-4.25 5,5 11.166667,5 20)),POLYGON((5 11.166667,-4.25 5,1.7 3.3,5.7 9.3,5 11.166667)),POLYGON((5.7 9.3,1.7 3.3,5 0,10 5,5.7 9.3)),POLYGON((5 -10,20 -10,20 5,10 5,5 0,5 -10)),POLYGON((20 5,20 20,5 20,5 11.166667,5.7 9.3,10 5,20 5)))',
                  100.0, 25)
            ) AS v(id, dt_wkt, edges_wkt, vor_wkt, hull_area, n_gen)
        """,
        # mirrors _q_validity_literal: hand-derived flags/reasons/POS;
        # hd/fd are exact surds rounded by the shared binary helper
        "validity_literal": """
            SELECT * FROM (VALUES
              (1, TRUE,  'Valid Geometry', TRUE, FALSE, FALSE,
                  'POINT(5 5)', 1.0, 1.0),
              (2, FALSE, 'Ring Self-intersection[5 5]', TRUE, FALSE, FALSE,
                  'POINT(5 5)', 0.0, 10.0),
              (3, TRUE,  'Valid Geometry', TRUE, TRUE, TRUE,
                  'POINT(1 5)', 3.605551, 5.0),
              (4, TRUE,  'Valid Geometry', FALSE, TRUE, NULL,
                  'POINT(5 5)', 4.0, 4.0)
            ) AS v(id, valid, reason, simple, closed_a, ring_a,
                   pos_wkt, hd, fd)
        """,
        # mirrors _q_edit_utils_literal: exact-integer WKT goldens
        # (tests/test_edit_utils.py pins the same semantics)
        "edit_utils_literal": """
            SELECT * FROM (VALUES
              (1, 'LINESTRING(10 20,12 23)',
                  'POLYGON((-1 -1,2 -1,2 2,-1 2,-1 -1))',
                  'LINESTRING(0 0,1 1)',
                  'LINESTRING(0 0,2 2)',
                  'LINESTRING(0 0,1 1,9 9)',
                  'MULTILINESTRING((0 0,1 1))',
                  'MULTILINESTRING((0 0,1 1))',
                  1, 2, 1.570796),
              (2, 'LINESTRING(14 20,18 26)',
                  'POLYGON((1 -1,5 -1,5 3,1 3,1 -1))',
                  'LINESTRING(2 0,4 2)',
                  'LINESTRING(2 0,4 2)',
                  'LINESTRING(2 0,4 2,9 9)',
                  'MULTILINESTRING((2 0,4 2))',
                  'MULTILINESTRING((2 0,4 2))',
                  1, 2, 1.570796),
              (3, 'LINESTRING(10 20,10 20,16 29,16 29,22 38)',
                  'POLYGON((-1 -1,7 -1,7 7,-1 7,-1 -1))',
                  'LINESTRING(0 0,3 3,6 6)',
                  'LINESTRING(0 0,4 4,6 6)',
                  'LINESTRING(0 0,0 0,3 3,3 3,6 6,9 9)',
                  'MULTILINESTRING((0 0,0 0,3 3,3 3,6 6))',
                  'MULTILINESTRING((0 0,0 0,3 3,3 3,6 6))',
                  1, 5, 1.570796),
              (4, 'MULTIPOINT(12 23,14 26,16 29)',
                  'POLYGON((0 0,4 0,4 4,0 4,0 0))',
                  'MULTIPOINT(1 1,2 2,3 3)',
                  'MULTIPOINT(2 2,4 4)',
                  NULL,
                  'MULTIPOINT(1 1,2 2,3 3)',
                  'MULTILINESTRING EMPTY',
                  3, 3, 1.570796)
            ) AS v(id, aff_wkt, exp_wkt, dedup_wkt, snap_wkt, add_wkt,
                   multi_wkt, lines_wkt, n_members, n_points, ang)
        """,
        # mirrors _q_geom_edit_points: flip/scale are exact fixture
        # arithmetic (ints and .5-decimals print identically in both
        # engines); rotate mirrors x·cosθ − y·sinθ with ::DOUBLE casts
        "geom_edit_points": """
            WITH p AS (SELECT c_custkey, c_nationkey,
                              (c_custkey % 360 - 180)::DOUBLE AS x,
                              c_nationkey * 3.0::DOUBLE - 37.5::DOUBLE AS y
                       FROM customer)
            SELECT c_custkey,
                   -- string columns built from INT/DECIMAL arithmetic:
                   -- values are exact (ints / .5-decimals) and print
                   -- without the trailing '.0' a DOUBLE cast would add
                   CASE WHEN c_custkey % 7 = 0 THEN NULL
                        ELSE 'POINT('
                             || CAST(c_nationkey * 3 - 37.5 AS VARCHAR)
                             || ' '
                             || CAST(c_custkey % 360 - 180 AS VARCHAR)
                             || ')' END AS flip_wkt,
                   CASE WHEN c_custkey % 7 = 0 THEN NULL
                        ELSE 'POINT('
                             || CAST((c_custkey % 360 - 180) * 2 AS VARCHAR)
                             || ' '
                             || CAST(c_nationkey * 9 - 112.5 AS VARCHAR)
                             || ')' END AS scale_wkt,
                   CASE WHEN c_custkey % 7 = 0 THEN NULL
                        ELSE ((CASE WHEN (x * cos(0.5::DOUBLE)
                                - y * sin(0.5::DOUBLE)) < 0 THEN -1 ELSE 1
                          END) * floor(abs(x * cos(0.5::DOUBLE)
                                - y * sin(0.5::DOUBLE)) * 1000000.0 + 0.5)
                          / 1000000.0 + 0.0) END AS rx,
                   CASE WHEN c_custkey % 7 = 0 THEN NULL
                        ELSE ((CASE WHEN (x * sin(0.5::DOUBLE)
                                + y * cos(0.5::DOUBLE)) < 0 THEN -1 ELSE 1
                          END) * floor(abs(x * sin(0.5::DOUBLE)
                                + y * cos(0.5::DOUBLE)) * 1000000.0 + 0.5)
                          / 1000000.0 + 0.0) END AS ry
            FROM p
        """,
        # mirrors _q_line_edit_literal: goldens pinned by tests/test_edit.py
        "line_edit_literal": """
            SELECT * FROM (VALUES
              (1, 'LINESTRING(10 10,10 0,0 0)',
                  'LINESTRING(0 0,3.333333333333333 0,6.666666666666666 0,10 0,10 3.333333333333333,10 6.666666666666666,10 10)',
                  'LINESTRING(5 0,10 0,10 5)',
                  'MULTIPOLYGON(((0 0,2 0,2 1,1 1,1 2,0 2,0 0)),((1 2,2 2,2 1,3 1,3 3,1 3,1 2)))'),
              (2, 'LINESTRING(3 4,0 0)',
                  'LINESTRING(0 0,1.5 2,3 4)',
                  'LINESTRING(0.75 1,2.25 3)',
                  'POLYGON((0 0,4 0,4 4,0 4,0 0),(1 1,1 3,3 3,3 1,1 1))')
            ) AS v(id, rev_wkt, seg_wkt, sub_wkt, sd_wkt)
        """,
        # mirrors _q_union_agg_regions: the pairwise-overlapping chain
        # [5i, 5i+8]x[0,10] dissolves to one (5(n-1)+8) x 10 rectangle
        "union_agg_regions": """
            SELECT n_regionkey, COUNT(*)::BIGINT AS n_boxes,
                   ((5 * (COUNT(*) - 1) + 8) * 10)::DOUBLE AS union_area
            FROM nation GROUP BY n_regionkey
        """,
        # mirrors _q_unigram_logprob: same tokenization, same per-token
        # micro-int rounding of ln(cnt/total) before the per-doc sum
        "unigram_logprob": f"""
            WITH toks AS (
              SELECT doc_id, unnest({_WORDS_LOWER}) AS w FROM documents
            ), vocab AS (
              SELECT w, COUNT(*)::BIGINT AS cnt FROM toks GROUP BY w
            ), tot AS (
              SELECT COUNT(*)::BIGINT AS total FROM toks
            ), scored AS (
              SELECT t.doc_id, v.cnt,
                     CAST((CASE WHEN ln(v.cnt::DOUBLE / tot.total::DOUBLE)
                                     < 0 THEN -1 ELSE 1 END)
                          * floor(abs(ln(v.cnt::DOUBLE / tot.total::DOUBLE))
                                  * 1000000.0 + 0.5) AS BIGINT) AS lp
              FROM toks t JOIN vocab v USING (w), tot
            )
            SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
                   CAST(SUM(lp) AS BIGINT) AS lp_micro_sum,
                   MIN(cnt) AS min_cnt
            FROM scored GROUP BY doc_id
        """,
        # mirrors _q_polygonize_literal: goldens pinned by
        # tests/test_polygonize.py (smallest-shell-first determinism)
        "polygonize_literal": """
            SELECT * FROM (VALUES
              (1, 'POLYGON((0 0,2 0,1 2,0 0))'),
              (2, 'MULTIPOLYGON(((0 0,4 0,4 4,0 0)),((0 0,4 4,0 4,0 0)))'),
              (3, 'MULTIPOLYGON(((4 4,6 4,6 6,4 6,4 4)),((0 0,10 0,10 10,0 10,0 0),(4 4,4 6,6 6,6 4,4 4)))'),
              (4, 'POLYGON((0 0,1 0,1 1,0 1,0 0))'),
              (5, 'GEOMETRYCOLLECTION EMPTY')
            ) AS v(id, faces_wkt)
        """,
        # mirrors _q_polygonize_regions: each nation's four segments
        # close one (5 + nk%3)-square — type and area are analytic
        "polygonize_regions": """
            SELECT n_nationkey, 'ST_Polygon' AS ptype,
                   ((5 + n_nationkey % 3) * (5 + n_nationkey % 3))::DOUBLE
                   AS parea
            FROM nation
        """,
        # mirrors _q_subdivide_boxes: the canonical segmentized 10x10 /
        # max_vertices=20 subdivision yields translation-invariant
        # constants (4 pieces, 25.0 each, 13-vertex max) pinned by
        # tests/test_subdivide.py — the oracle is arithmetic only
        "subdivide_boxes": """
            SELECT l_orderkey, (4 * COUNT(*))::BIGINT AS n_pieces,
                   (100.0 * COUNT(*))::DOUBLE AS area_sum,
                   13 AS max_piece_verts
            FROM lineitem
            WHERE l_linenumber = 1 AND l_orderkey % 7 <> 0
            GROUP BY l_orderkey
        """,
        # mirrors _q_embed_quantize: identical quantization formula via
        # DuckDB list lambdas; per-dim errors rounded to integer nanos
        # BEFORE summing so the comparison never depends on double fold
        # order
        "embed_quantize": """
            WITH base AS (
              SELECT vec_id,
                     list_transform(embedding,
                                    x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings
            ), m AS (
              SELECT vec_id, v,
                     list_max(list_transform(v, x -> abs(x))) / 127.0
                     AS scale
              FROM base
            ), qq AS (
              SELECT vec_id, v, scale,
                     list_transform(v, x -> CAST(
                       (CASE WHEN x / scale < 0 THEN -1 ELSE 1 END)
                       * floor(abs(x / scale) + 0.5) AS BIGINT)) AS q
              FROM m
            )
            SELECT vec_id,
                   ((CASE WHEN (scale) < 0 THEN -1 ELSE 1 END)
                    * floor(abs(scale) * 1000000.0 + 0.5)
                    / 1000000.0 + 0.0) AS scale6,
                   CAST(list_sum(q) AS BIGINT) AS q_sum,
                   CAST(list_max(list_transform(q, x -> abs(x)))
                        AS BIGINT) AS q_absmax,
                   CAST(list_sum(list_transform(
                       generate_series(1, len(v)),
                       i -> CAST(floor(abs(v[i] - q[i] * scale)
                                 * 1000000000.0 + 0.5) AS BIGINT)))
                        AS BIGINT) AS err_nano
            FROM qq
        """,
        # mirrors _q_url_dedup: canonical URLs are fixture-analytic
        # (variants {0,1} share '?a=1&b=2', {2,3} share the bare path,
        # %5==4 is malformed -> dropped), so the oracle groups on the
        # constructed canonical string without parsing anything
        "url_dedup": """
            WITH urls AS (
              SELECT doc_id,
                     'https://' || source || '.example.com/docs/'
                     || CAST(doc_id % 50 AS VARCHAR)
                     || CASE WHEN doc_id % 5 IN (0, 1) THEN '?a=1&b=2'
                             ELSE '' END AS canonical_url
              FROM documents
              WHERE doc_id % 5 <> 4
            )
            SELECT canonical_url, MIN(doc_id) AS kept_doc,
                   COUNT(*) AS n_dups
            FROM urls GROUP BY canonical_url
        """,
        # mirrors _q_line_merge_literal: goldens pinned by
        # tests/test_edit.py::TestLineMerge (deterministic input-order
        # chain starts; PostGIS/GEOS sewing semantics)
        # mirrors _q_smoothing_literal: dyadic corner-cut / VW goldens
        "smoothing_literal": """
            SELECT * FROM (VALUES
              (1, 'LINESTRING(0 0,3 3,5 3,8 0)',
                  'LINESTRING(0 0,2 0,3 5,4 0)'),
              (2, 'POLYGON((1 0,3 0,4 1,4 3,3 4,1 4,0 3,0 1,1 0))',
                  'POLYGON((0 0,8 0,8 8,0 8,0 0))'),
              (3, 'LINESTRING(0 0,4.5 4.5,7 6,9 6,11.5 4.5,16 0)',
                  'LINESTRING(0 0,10 0)'),
              (4, 'MULTILINESTRING((0 0,4 0),(0 4,4 4))',
                  'POLYGON((1 0,1 1,0 1,1 0))')
            ) AS v(id, smooth_wkt, vw_wkt)
        """,
        "line_merge_literal": """
            SELECT * FROM (VALUES
              (1, 'LINESTRING(0 0,1 1,2 2,3 2)'),
              (2, 'LINESTRING(0 0,1 0,2 0,3 0)'),
              (3, 'MULTILINESTRING((0 0,1 0),(1 0,2 0),(1 0,1 1))'),
              (4, 'LINESTRING(0 0,1 0,1 1,0 1,0 0)'),
              (5, 'MULTILINESTRING((0 0,1 0,2 0),(10 0,11 0,12 0))'),
              (6, 'GEOMETRYCOLLECTION EMPTY')
            ) AS v(id, merged_wkt)
        """,
        # mirrors _q_shortline_project: witness pair and projection are
        # analytic; libm sin/cos/sqrt agree across engines (the kernel
        # runs Python math, which matches DuckDB bit-for-bit)
        "shortline_project": """
            SELECT c_custkey,
                   'LINESTRING(' || (c_custkey % 100) || ' '
                     || c_nationkey || ',' || (c_custkey % 100 + 10)
                     || ' ' || (c_nationkey + 10) || ')' AS sl_wkt,
                   ((CASE WHEN (sqrt(200.0)) < 0 THEN -1 ELSE 1 END)
                    * floor(abs(sqrt(200.0)) * 1000000.0 + 0.5)
                    / 1000000.0 + 0.0) AS sl_len,
                   ((CASE WHEN ((c_custkey % 100) + (c_custkey % 5 + 1)
                                * sin(pi() / 2)) < 0 THEN -1 ELSE 1 END)
                    * floor(abs((c_custkey % 100) + (c_custkey % 5 + 1)
                                * sin(pi() / 2)) * 1000000.0 + 0.5)
                    / 1000000.0 + 0.0) AS px,
                   ((CASE WHEN (c_nationkey + (c_custkey % 5 + 1)
                                * cos(pi() / 2)) < 0 THEN -1 ELSE 1 END)
                    * floor(abs(c_nationkey + (c_custkey % 5 + 1)
                                * cos(pi() / 2)) * 1000000.0 + 0.5)
                    / 1000000.0 + 0.0) AS py
            FROM customer
        """,
        # mirrors _q_zorder_keys: same quantize + spread-bits ladder in
        # DuckDB integer ops (helper _morton_sql); %7 null propagates
        "zorder_keys": f"""
            SELECT c_custkey,
                   CASE WHEN c_custkey % 7 = 0 THEN NULL
                        ELSE {_morton_sql(
                            "(c_custkey % 360 - 180)::DOUBLE",
                            "(c_nationkey * 7 - 84)::DOUBLE")}
                   END AS zkey
            FROM customer
        """,
        # mirrors _q_makevalid_literal: goldens pinned by
        # tests/test_makevalid.py
        "makevalid_literal": """
            SELECT * FROM (VALUES
              (1, 'MULTIPOLYGON(((0 0,1 1,0 2,0 0)),((1 1,2 0,2 2,1 1)))',
                  'MULTILINESTRING((0 0,5 0),(5 0,10 0),(5 -5,5 0),(5 0,5 5))'),
              (2, 'POLYGON((0 0,10 0,10 10,0 10,0 0),(4 4,4 6,6 6,6 4,4 4))',
                  'MULTILINESTRING((0 0,2 2),(2 2,4 4,4 0,2 2),(2 2,0 4))'),
              (3, 'POLYGON((0 0,4 0,4 4,2 4,0 4,0 0))',
                  'MULTILINESTRING((0 0,2 0),(2 0,8 0),(8 0,10 0))'),
              (4, 'MULTIPOLYGON(((0 0,2 0,2 2,0 2,0 0)),((-2 -2,0 -2,0 0,-2 0,-2 -2)))',
                  'LINESTRING(0 0,5 5)')
            ) AS v(id, valid_wkt, noded_wkt)
        """,
        # mirrors _q_makevalid_bowties: translated bowtie -> two unit
        # lobes; WKT and area constructed analytically
        "makevalid_bowties": """
            SELECT l_orderkey,
                   'MULTIPOLYGON(((' ||
                     (l_orderkey % 500) || ' ' || (l_partkey % 500) || ',' ||
                     (l_orderkey % 500 + 1) || ' ' || (l_partkey % 500 + 1) || ',' ||
                     (l_orderkey % 500) || ' ' || (l_partkey % 500 + 2) || ',' ||
                     (l_orderkey % 500) || ' ' || (l_partkey % 500) ||
                   ')),((' ||
                     (l_orderkey % 500 + 1) || ' ' || (l_partkey % 500 + 1) || ',' ||
                     (l_orderkey % 500 + 2) || ' ' || (l_partkey % 500) || ',' ||
                     (l_orderkey % 500 + 2) || ' ' || (l_partkey % 500 + 2) || ',' ||
                     (l_orderkey % 500 + 1) || ' ' || (l_partkey % 500 + 1) ||
                   ')))' AS valid_wkt,
                   2.0::DOUBLE AS valid_area
            FROM lineitem WHERE l_linenumber = 3
        """,
        # mirrors _q_bounding_forms: analytic center/radius/envelope of
        # integer axis-aligned boxes; radius formula bit-equal (hypot
        # diagonal / 2 == sqrt(50.0))
        "bounding_forms": """
            SELECT l_orderkey,
                   ((l_orderkey % 500) + 5)::DOUBLE AS cx,
                   ((l_partkey % 500) + 5)::DOUBLE AS cy,
                   ((CASE WHEN (sqrt(50.0)) < 0 THEN -1 ELSE 1 END)
                    * floor(abs(sqrt(50.0)) * 1000000.0 + 0.5)
                    / 1000000.0 + 0.0) AS radius,
                   'POLYGON((' ||
                     CAST(l_orderkey % 500 AS VARCHAR) || ' ' ||
                     CAST(l_partkey % 500 AS VARCHAR) || ',' ||
                     CAST(l_orderkey % 500 + 10 AS VARCHAR) || ' ' ||
                     CAST(l_partkey % 500 AS VARCHAR) || ',' ||
                     CAST(l_orderkey % 500 + 10 AS VARCHAR) || ' ' ||
                     CAST(l_partkey % 500 + 10 AS VARCHAR) || ',' ||
                     CAST(l_orderkey % 500 AS VARCHAR) || ' ' ||
                     CAST(l_partkey % 500 + 10 AS VARCHAR) || ',' ||
                     CAST(l_orderkey % 500 AS VARCHAR) || ' ' ||
                     CAST(l_partkey % 500 AS VARCHAR) || '))' AS env_wkt
            FROM lineitem WHERE l_linenumber = 2
        """,
        # mirrors _q_cluster_within: dbscan layout, single linkage —
        # the reachability closure over ALL eps-pairs, no core filter
        "cluster_within": """
            WITH RECURSIVE pts AS (
              SELECT c_custkey AS id,
                     CASE WHEN c_custkey % 13 = 0
                          THEN 2000.0 + c_custkey * 3
                          ELSE ((c_nationkey % 5) * 50
                                + c_custkey % 7)::DOUBLE END AS x,
                     CASE WHEN c_custkey % 13 = 0
                          THEN -((c_custkey * 7) % 997)::DOUBLE
                          ELSE ((c_nationkey // 5) * 50
                                + c_custkey % 11)::DOUBLE END AS y
              FROM customer
            ), pairs AS (
              SELECT a.id AS ia, b.id AS ib
              FROM pts a JOIN pts b
                ON (a.x - b.x) * (a.x - b.x)
                   + (a.y - b.y) * (a.y - b.y) <= 4.0
            ), r(id, v) AS (
              SELECT id, id FROM pts
              UNION
              SELECT r.id, e.ib FROM r JOIN pairs e ON e.ia = r.v
            )
            SELECT id AS c_custkey, MIN(v) AS cluster FROM r GROUP BY id
        """,
        # mirrors _q_dbscan_clusters: same point layout; DBSCAN recomputed
        # relationally — pairs (incl. self) by quadratic predicate, core
        # by HAVING count >= 4, components by a recursive-CTE reachability
        # closure min-label, border adopts min core-neighbor cluster
        "dbscan_clusters": """
            WITH RECURSIVE pts AS (
              SELECT c_custkey AS id,
                     CASE WHEN c_custkey % 13 = 0
                          THEN 2000.0 + c_custkey * 3
                          ELSE ((c_nationkey % 5) * 50
                                + c_custkey % 7)::DOUBLE END AS x,
                     CASE WHEN c_custkey % 13 = 0
                          THEN -((c_custkey * 7) % 997)::DOUBLE
                          ELSE ((c_nationkey // 5) * 50
                                + c_custkey % 11)::DOUBLE END AS y
              FROM customer
            ), pairs AS (
              SELECT a.id AS ia, b.id AS ib
              FROM pts a JOIN pts b
                ON (a.x - b.x) * (a.x - b.x)
                   + (a.y - b.y) * (a.y - b.y) <= 4.0
            ), core AS (
              SELECT ia AS id FROM pairs GROUP BY ia HAVING COUNT(*) >= 4
            ), core_edges AS (
              SELECT p.ia, p.ib FROM pairs p
              JOIN core ca ON ca.id = p.ia
              JOIN core cb ON cb.id = p.ib
            ), r(id, v) AS (
              SELECT id, id FROM core
              UNION
              SELECT r.id, e.ib FROM r JOIN core_edges e ON e.ia = r.v
            ), comp AS (
              SELECT id, MIN(v) AS cluster FROM r GROUP BY id
            ), border AS (
              SELECT p.ia AS id, MIN(comp.cluster) AS cluster
              FROM pairs p
              JOIN core cb ON cb.id = p.ib
              JOIN comp ON comp.id = p.ib
              WHERE p.ia NOT IN (SELECT id FROM core)
              GROUP BY p.ia
            )
            SELECT c.c_custkey,
                   (comp.id IS NOT NULL) AS is_core,
                   COALESCE(comp.cluster, border.cluster) AS cluster
            FROM customer c
            LEFT JOIN comp ON comp.id = c.c_custkey
            LEFT JOIN border ON border.id = c.c_custkey
        """,
        # mirrors _q_setops_literal: golden strings pinned by
        # tests/test_setops.py (PostGIS-parity semantics; documented
        # deviation: touching polygons intersect as POLYGON EMPTY)
        "setops_literal": """
            SELECT * FROM (VALUES
              (1, 'POLYGON((1 1,2 1,2 2,1 2,1 1))',
                  'POLYGON((0 0,2 0,2 1,3 1,3 3,1 3,1 2,0 2,0 0))',
                  'POLYGON((0 0,2 0,2 1,1 1,1 2,0 2,0 0))'),
              (2, 'POLYGON((0.5 0.5,1.5 0.5,1.5 1.5,0.5 1.5,0.5 0.5))',
                  'POLYGON((0 0,2 0,2 2,0 2,0 0))',
                  'POLYGON((0 0,2 0,2 2,0 2,0 0),(0.5 0.5,0.5 1.5,1.5 1.5,1.5 0.5,0.5 0.5))'),
              (3, 'POLYGON EMPTY',
                  'POLYGON((0 0,2 0,4 0,4 2,2 2,0 2,0 0))',
                  'POLYGON((0 0,2 0,2 2,0 2,0 0))'),
              (4, 'LINESTRING(0 1,2 1)',
                  'GEOMETRYCOLLECTION(MULTILINESTRING((-1 1,0 1),(2 1,3 1)),POLYGON((0 0,2 0,2 2,0 2,0 0)))',
                  'MULTILINESTRING((-1 1,0 1),(2 1,3 1))'),
              (5, 'POINT(3.5 0)',
                  'MULTILINESTRING((0 0,3.5 0,10 0),(3 -1,5 3))',
                  'LINESTRING(0 0,3.5 0,10 0)')
            ) AS v(id, i_wkt, u_wkt, d_wkt)
        """,
        # mirrors _q_collect_by_segment: same canonical (x, y) ordering
        # via string_agg ORDER BY; DuckDB prints doubles like Spark's
        # cast-to-string for these fixture magnitudes
        "collect_by_segment": """
            SELECT c_mktsegment,
                   'MULTIPOINT(' || string_agg(
                       CAST(CAST(c_custkey % 360 - 180 AS DOUBLE) AS VARCHAR)
                       || ' ' ||
                       CAST(c_nationkey * 3 - 37.5 AS VARCHAR),
                       ',' ORDER BY CAST(c_custkey % 360 - 180 AS DOUBLE),
                                    c_nationkey * 3 - 37.5)
                   || ')' AS multipoint_wkt,
                   COUNT(*) AS n_points
            FROM customer WHERE c_custkey % 7 <> 0
            GROUP BY c_mktsegment
        """,
        # mirrors _q_dwithin_join: fixture-analytic point coords, same
        # sqrt-form distance, null keys (%7) excluded by the join
        "dwithin_join": """
            SELECT l.l_orderkey, l.l_linenumber, c.c_custkey,
                   ((CASE WHEN (sqrt((lx - cx)*(lx - cx) + (ly - cy)*(ly - cy))) < 0 THEN -1 ELSE 1 END) * floor(abs(sqrt((lx - cx)*(lx - cx) + (ly - cy)*(ly - cy))) * 1000000.0 + 0.5) / 1000000.0 + 0.0)
                       AS dist
            FROM (SELECT l_orderkey, l_linenumber,
                         CAST(l_orderkey % 1000 AS DOUBLE) AS lx,
                         CAST(l_partkey % 1000 AS DOUBLE) AS ly
                  FROM lineitem WHERE l_orderkey % 7 <> 0) l,
                 (SELECT c_custkey,
                         CAST(c_custkey % 360 - 180 AS DOUBLE) AS cx,
                         c_nationkey * 3 - 37.5 AS cy
                  FROM customer WHERE c_custkey % 7 <> 0) c
            WHERE sqrt((lx - cx)*(lx - cx) + (ly - cy)*(ly - cy)) <= 2.0
        """,
        # goldens hand-verified: CCW hull from lexicographically smallest
        # vertex; GEOS degenerate cases (point / collinear LINESTRING);
        # Douglas-Peucker keeps endpoints, drops the collinear ring vertex
        "hull_simplify_literal": """
            SELECT * FROM (VALUES
              (1, 'POLYGON((0 0,1 0,1 1,0 1,0 0))',
                  'MULTIPOINT(0 0,1 0,1 1,0 1,0.5 0.5)'),
              (2, 'LINESTRING(0 0,2 2)', 'MULTIPOINT(0 0,1 1,2 2)'),
              (3, 'POINT(3 4)', 'POINT(3 4)'),
              (4, 'POLYGON((0 0,4 0,3 5,0 0))', 'LINESTRING(0 0,2 0,3 5,4 0)'),
              (5, 'POLYGON((0 0,4 0,4 4,0 4,0 0))',
                  'POLYGON((0 0,4 0,4 4,0 4,0 0))'),
              (6, 'POLYGON((10 10,30 10,20 21,10 10))',
                  'LINESTRING(10 10,20 21,30 10)')
            ) AS t(id, hull_wkt, simple_wkt)
        """,
        "split_literal": """
            SELECT * FROM (VALUES
              (1, 'GEOMETRYCOLLECTION(LINESTRING(0 0,5 5),LINESTRING(5 5,10 10))'),
              (2, 'GEOMETRYCOLLECTION(LINESTRING(0 5,5 5),LINESTRING(5 5,10 5))'),
              (3, 'GEOMETRYCOLLECTION(POLYGON((0 0,5 0,5 10,0 10,0 0)),POLYGON((5 0,10 0,10 10,5 10,5 0)))'),
              (4, 'GEOMETRYCOLLECTION(POLYGON((0 0,9 0,9 4,6 4,6 2,3 2,3 4,0 4,0 0)),POLYGON((0 4,3 4,3 6,0 6,0 4)),POLYGON((6 4,9 4,9 6,6 6,6 4)))'),
              (5, 'GEOMETRYCOLLECTION(POLYGON((0 0,3 0,3 20,0 20,0 0)),POLYGON((3 0,20 0,20 20,3 20,3 0),(6 6,6 14,14 14,14 6,6 6)))'),
              (6, 'GEOMETRYCOLLECTION(POLYGON((0 0,10 0,10 10,5 10,5 3,0 3,0 0)),POLYGON((0 3,5 3,5 10,0 10,0 3)))'),
              (7, 'GEOMETRYCOLLECTION(POLYGON((0 0,10 0,10 10,0 10,0 0)))'),
              (8, 'GEOMETRYCOLLECTION(LINESTRING(-2 5,0 5),LINESTRING(0 5,10 5),LINESTRING(10 5,12 5))'),
              (9, 'GEOMETRYCOLLECTION(POLYGON((0 0,5 0,5 10,0 10,0 0)),POLYGON((5 0,10 0,10 10,5 10,5 0)))')
            ) AS t(id, split_wkt)
        """,
        # ratios/score via exact scaled-integer half-up rounding — mirrors
        # operators.text._ratio6 (F.round at 6 decimals is representation-
        # dependent at half boundaries between engines; round-1 hash-fail)
        "text_stats": f"""
            SELECT doc_id, n_tokens::INT AS n_tokens, n_bpe_tokens,
                   ((2000000*nchars + n_tokens) // (2*n_tokens)) / 1000000.0
                       AS avg_token_len,
                   ((2000000*stops + n_tokens) // (2*n_tokens)) / 1000000.0
                       AS stop_ratio,
                   ((2000000*dst + n_tokens) // (2*n_tokens)) / 1000000.0
                       AS distinct_ratio,
                   ((2*(4000*LEAST(100, n_tokens)*n_tokens
                        + 300000*(n_tokens - stops + dst)) + n_tokens)
                    // (2*n_tokens)) / 1000000.0 AS quality_score
            FROM (
              SELECT doc_id,
                     len(w)::BIGINT AS n_tokens,
                     len(regexp_extract_all(text,
                         '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9]+'))::INT
                         AS n_bpe_tokens,
                     length(regexp_replace(text, '\\s+', '', 'g'))::BIGINT AS nchars,
                     len(list_filter(w, x -> x IN ({_stop_list()})))::BIGINT AS stops,
                     len(list_distinct(w))::BIGINT AS dst
              FROM (SELECT doc_id, text, {_WORDS} AS w FROM documents))
        """,
        # mirrors _q_curation_pipeline: quality gate (text_stats integer
        # math) -> exact dedup keeping the min-id copy -> md5 hash split
        "curation_pipeline": f"""
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents),
            q AS (
              SELECT doc_id, text, len(w)::BIGINT AS n_tokens,
                     len(list_filter(w, x -> x IN ({_stop_list()})))::BIGINT
                         AS stops,
                     len(list_distinct(w))::BIGINT AS dst
              FROM (SELECT doc_id, text, {_WORDS} AS w FROM corpus)),
            kept AS (
              SELECT doc_id, text, n_tokens FROM q
              WHERE ((2*(4000*LEAST(100, n_tokens)*n_tokens
                         + 300000*(n_tokens - stops + dst)) + n_tokens)
                     // (2*n_tokens)) / 1000000.0 >= 0.5),
            canon AS (
              SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
              FROM kept GROUP BY md5(text)),
            cur AS (
              SELECT k.doc_id, k.n_tokens, c.n_copies,
                     {_H64.format(arg="CAST(k.doc_id AS VARCHAR)")} % 10000
                         AS b
              FROM kept k JOIN canon c ON k.doc_id = c.doc_id)
            SELECT CASE WHEN b < 9800 THEN 'train'
                        WHEN b < 9900 THEN 'valid'
                        ELSE 'test' END AS split,
                   COUNT(*) AS n_docs,
                   SUM(n_tokens)::BIGINT AS total_tokens,
                   SUM(n_copies - 1)::BIGINT AS dupes_removed
            FROM cur GROUP BY 1
        """,
        "lang_id": _lang_oracle(),
        "fingerprint": f"""
            SELECT doc_id,
                   list_reduce(list_transform(string_split(text, ''),
                               c -> ascii(c)::BIGINT),
                               (a, b) -> (a * 31 + b) % 1000000007) AS fp_roll,
                   {_H64.format(arg="text")} AS fp_md5,
                   list_aggregate(list_transform({_WORDS},
                                  x -> {_H64.format(arg="x")}), 'min') AS fp_minword
            FROM documents
        """,
        "exact_dedup": """
            SELECT md5(text) AS text_md5, MIN(doc_id) AS canonical_id,
                   COUNT(*) AS n_copies
            FROM (SELECT doc_id, text FROM documents
                  UNION ALL
                  SELECT doc_id + 1000000, text FROM documents)
            GROUP BY md5(text)
        """,
        "minhash_pairs": _minhash_oracle(),
        # recursive min-label reachability over the SAME pair SQL: in an
        # undirected graph, MIN(reachable id) == component id
        # mirrors _q_dedup_keep_one: the neardup_components recursive CTE
        # plus the keep-one left join over the full perturbed corpus
        "dedup_keep_one": f"""
            WITH RECURSIVE corpus AS ({_CORPUS.format(where="")}),
            pairs AS (
              SELECT id_a, id_b FROM ({_minhash_oracle()}) t),
            edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                      UNION ALL
                      SELECT id_b AS src, id_a AS dst FROM pairs),
            verts AS (SELECT DISTINCT src AS v FROM edges),
            reach AS (
              SELECT v, v AS label FROM verts
              UNION
              SELECT e.dst AS v, r.label
              FROM reach r JOIN edges e ON e.src = r.v
            ),
            comp AS (SELECT v AS doc_id, MIN(label)::BIGINT AS component
                     FROM reach GROUP BY v)
            SELECT c.doc_id, comp.component,
                   (comp.component IS NULL OR comp.component = c.doc_id)
                       AS is_kept
            FROM corpus c LEFT JOIN comp ON comp.doc_id = c.doc_id
        """,
        "neardup_components": f"""
            WITH RECURSIVE pairs AS (
              SELECT id_a, id_b FROM ({_minhash_oracle()}) t),
            edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                      UNION ALL
                      SELECT id_b AS src, id_a AS dst FROM pairs),
            verts AS (SELECT DISTINCT src AS v FROM edges),
            reach AS (
              SELECT v, v AS label FROM verts
              UNION
              SELECT e.dst AS v, r.label
              FROM reach r JOIN edges e ON e.src = r.v
            )
            SELECT v AS doc_id, MIN(label)::BIGINT AS component
            FROM reach GROUP BY v
        """,
        # mirrors dedup.chunk_documents (chunk 64, overlap 16, stride 48);
        # DuckDB list_slice end-index is inclusive, Spark slice takes a
        # LENGTH — i*48+1 .. i*48+64 covers the same 64 tokens
        "chunk_docs": f"""
            WITH d AS (SELECT doc_id, {_WORDS} AS w FROM documents),
            c AS (SELECT doc_id, w, len(w)::BIGINT AS n,
                         GREATEST(1::BIGINT, (len(w)::BIGINT + 31) // 48)
                             AS n_chunks
                  FROM d),
            x AS (SELECT doc_id, w, n,
                         unnest(generate_series(0, n_chunks - 1)) AS i
                  FROM c)
            SELECT doc_id, i::INT AS chunk_idx,
                   array_to_string(list_slice(w, (i*48 + 1)::INT,
                                              (i*48 + 64)::INT), ' ')
                       AS chunk_text,
                   LEAST(n - i*48, 64)::INT AS n_tokens
            FROM x
        """,
        "simhash_pairs": _simhash_oracle(),
        "ngram_jaccard": f"""
            WITH corpus AS ({_CORPUS.format(where="WHERE doc_id < 100")}),
            words AS (SELECT doc_id, {_WORDS} AS w FROM corpus),
            sh AS (SELECT DISTINCT doc_id, s FROM (
                     SELECT doc_id,
                            unnest(list_transform(range(len(w) - 2),
                                   i -> array_to_string(list_slice(w, i + 1, i + 3), ' '))) AS s
                     FROM words)),
            sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
            inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ninter
                      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                      GROUP BY 1, 2)
            SELECT id_a, id_b,
                   ((CASE WHEN (ninter::DOUBLE / (sa.nsh + sb.nsh - ninter)) < 0 THEN -1 ELSE 1 END) * floor(abs(ninter::DOUBLE / (sa.nsh + sb.nsh - ninter)) * 1000000.0 + 0.5) / 1000000.0 + 0.0) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE ((CASE WHEN (ninter::DOUBLE / (sa.nsh + sb.nsh - ninter)) < 0 THEN -1 ELSE 1 END) * floor(abs(ninter::DOUBLE / (sa.nsh + sb.nsh - ninter)) * 1000000.0 + 0.5) / 1000000.0 + 0.0) >= 0.4
        """,
        "embedding_neardup": """
            WITH corpus AS (
              SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
              FROM embeddings
              UNION ALL
              SELECT vec_id + 1000000, list_transform(embedding, x -> x::DOUBLE)
              FROM embeddings),
            probes AS (SELECT vec_id AS id_a, v AS va FROM corpus
                       WHERE vec_id % 1000000 < 50)
            SELECT id_a, id_b, sim FROM (
              SELECT p.id_a, c.vec_id AS id_b,
                     ((CASE WHEN (list_cosine_similarity(p.va, c.v)) < 0 THEN -1 ELSE 1 END) * floor(abs(list_cosine_similarity(p.va, c.v)) * 1000000.0 + 0.5) / 1000000.0 + 0.0) AS sim
              FROM probes p, corpus c WHERE p.id_a < c.vec_id)
            WHERE sim >= 0.99
        """,
        "cosine_topk": _COSINE_TOPK_SQL,
        # mirrors _q_ann_recall: exact-arith recall of trained-IVF
        # against the brute-force ground truth, both replayed from their
        # own oracle SQL (single source per side)
        "ann_recall": f"""
            WITH bf AS (SELECT query_id, neighbor_id
                        FROM ({_COSINE_TOPK_SQL})),
            ann AS (SELECT query_id, neighbor_id
                    FROM ({_ivf_trained_oracle()})),
            hits AS (SELECT bf.query_id FROM bf
                     JOIN ann USING (query_id, neighbor_id)),
            t AS (SELECT query_id, COUNT(*) AS n_true FROM bf GROUP BY 1),
            h AS (SELECT query_id, COUNT(*) AS n_hit FROM hits GROUP BY 1)
            SELECT t.query_id, t.n_true, COALESCE(h.n_hit, 0) AS n_hit,
                   ((2000000*COALESCE(h.n_hit, 0) + t.n_true)
                    // (2*t.n_true)) / 1000000.0 AS recall
            FROM t LEFT JOIN h ON t.query_id = h.query_id
        """,
        # RBO composes both sides' own replays; the weight table comes
        # from the SAME python definition the operator inlines
        "rbo_eval": (lambda W: f"""
            WITH bf AS (SELECT query_id, neighbor_id, rank
                        FROM ({_COSINE_TOPK_SQL})),
            ann AS (SELECT query_id, neighbor_id, rank
                    FROM ({_ivf_trained_oracle()})),
            wt(m, w) AS (VALUES {", ".join(
                f"({m}, {w})" for m, w in enumerate(W, start=1))}),
            pairs AS (SELECT bf.query_id,
                             greatest(bf.rank, ann.rank) AS m
                      FROM bf JOIN ann
                        USING (query_id, neighbor_id)),
            s AS (SELECT query_id, COUNT(*)::BIGINT AS n_common,
                         SUM(wt.w)::BIGINT AS wsum
                  FROM pairs JOIN wt USING (m) GROUP BY query_id),
            q AS (SELECT DISTINCT query_id FROM bf)
            SELECT q.query_id,
                   COALESCE(s.n_common, 0)::BIGINT AS n_common,
                   -- exact integer 6-dp half-away scaling by (1-p)=1/10:
                   -- never a decimal-vs-double literal across engines
                   (((COALESCE(s.wsum, 0) + 5) // 10) / 1000000.0) AS rbo
            FROM q LEFT JOIN s USING (query_id)
        """)(__import__("datafusion_geo_spark.operators.evals",
                        fromlist=["rbo_weights_micro"])
             .rbo_weights_micro(10, 0.9)),
        # nDCG composes both replays; discounts from the same python
        # table as the operator; gains = clamped micro of the bf sim
        "ndcg_eval": (lambda W: f"""
            WITH bf AS (SELECT query_id, neighbor_id, sim, rank
                        FROM ({_COSINE_TOPK_SQL})),
            ann AS (SELECT query_id, neighbor_id, rank
                    FROM ({_ivf_trained_oracle()})),
            wt(r, w) AS (VALUES {", ".join(
                f"({r}, {w})" for r, w in enumerate(W, start=1))}),
            judged AS (SELECT query_id, neighbor_id, rank,
                              greatest(0, (CASE WHEN sim < 0 THEN -1
                                           ELSE 1 END)
                                 * CAST(floor(abs(sim) * 1000000.0
                                              + 0.5) AS BIGINT)) AS g
                       FROM bf),
            idcg AS (SELECT query_id, COUNT(*)::BIGINT AS n_judged,
                            SUM(g * wt.w)::BIGINT AS idcg_num
                     FROM judged JOIN wt ON wt.r = judged.rank
                     GROUP BY query_id),
            hits AS (SELECT a.query_id,
                            SUM(j.g * wt.w)::BIGINT AS dcg_num
                     FROM ann a
                     JOIN judged j USING (query_id, neighbor_id)
                     JOIN wt ON wt.r = a.rank
                     GROUP BY a.query_id)
            SELECT i.query_id, i.n_judged,
                   COALESCE(h.dcg_num, 0)::BIGINT AS dcg_num,
                   i.idcg_num,
                   CASE WHEN i.idcg_num > 0 THEN
                     ((CASE WHEN (COALESCE(h.dcg_num, 0)::DOUBLE
                                  / i.idcg_num::DOUBLE) < 0
                            THEN -1 ELSE 1 END)
                      * floor(abs(COALESCE(h.dcg_num, 0)::DOUBLE
                                  / i.idcg_num::DOUBLE)
                              * 1000000.0 + 0.5) / 1000000.0 + 0.0)
                   END AS ndcg
            FROM idcg i LEFT JOIN hits h USING (query_id)
        """)(__import__("datafusion_geo_spark.operators.evals",
                        fromlist=["ndcg_weights_micro"])
             .ndcg_weights_micro(10)),
        "pq_recall": f"""
            WITH bf AS (SELECT query_id, neighbor_id
                        FROM ({_COSINE_TOPK_SQL})),
            ann AS (SELECT query_id, neighbor_id
                    FROM ({_pq_oracle()})),
            hits AS (SELECT bf.query_id FROM bf
                     JOIN ann USING (query_id, neighbor_id)),
            t AS (SELECT query_id, COUNT(*) AS n_true FROM bf GROUP BY 1),
            h AS (SELECT query_id, COUNT(*) AS n_hit FROM hits GROUP BY 1)
            SELECT t.query_id, t.n_true, COALESCE(h.n_hit, 0) AS n_hit,
                   ((2000000*COALESCE(h.n_hit, 0) + t.n_true)
                    // (2*t.n_true)) / 1000000.0 AS recall
            FROM t LEFT JOIN h ON t.query_id = h.query_id
        """,
        "ann_topk": """
            WITH vecs AS (SELECT vec_id,
                                 list_transform(embedding, x -> x::DOUBLE) AS v
                          FROM embeddings),
            planes AS (SELECT vec_id::INT AS pid, v AS pv FROM vecs WHERE vec_id < 6),
            buck AS (SELECT vec_id,
                            SUM(CASE WHEN list_dot_product(v, pv) > 0
                                     THEN (1 << pid) ELSE 0 END)::INT AS bucket
                     FROM vecs, planes GROUP BY vec_id),
            vb AS (SELECT vecs.vec_id, v, bucket
                   FROM vecs JOIN buck ON vecs.vec_id = buck.vec_id),
            scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                              ((CASE WHEN (list_cosine_similarity(q.v, c.v)) < 0 THEN -1 ELSE 1 END) * floor(abs(list_cosine_similarity(q.v, c.v)) * 1000000.0 + 0.5) / 1000000.0 + 0.0) AS sim
                       FROM vb q JOIN vb c ON q.bucket = c.bucket
                       WHERE q.vec_id < 8 AND c.vec_id != q.vec_id)
            SELECT query_id, neighbor_id, sim, rank::INT AS rank FROM (
              SELECT query_id, neighbor_id, sim,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, neighbor_id) AS rank
              FROM scored)
            WHERE rank <= 10
        """,
        "multimodal_decode": """
            SELECT doc_id, length(text)::INT AS n_bytes,
                   (list_reduce(list_transform(string_split(text, ''),
                                c -> ascii(c)::BIGINT), (a, b) -> a + b)) % 997
                     AS checksum,
                   ascii(substr(text, 1, 1))::INT AS head_byte,
                   -- text payloads are never decodable images, so the
                   -- adaptive decoder emits the sentinels on BOTH the
                   -- stub and the PIL path (operators/multimodal.py)
                   FALSE AS decoded,
                   (-1)::INT AS width, (-1)::INT AS height
            FROM documents
        """,
        # mirrors multimodal.resize_images' stub: n>=256 → every
        # (n//256)-th char, 256 of them; n<256 → repetition padding
        "multimodal_resize": """
            SELECT doc_id,
                   CASE WHEN n >= 256 THEN
                     array_to_string(list_transform(generate_series(0, 255),
                       i -> substr(text, (i * (n // 256) + 1)::INT, 1)), '')
                   ELSE
                     array_to_string(list_transform(generate_series(0, 255),
                       i -> substr(text, (i % n + 1)::INT, 1)), '')
                   END AS resized_text,
                   16::INT AS width, 16::INT AS height
            FROM (SELECT doc_id, text, length(text)::BIGINT AS n
                  FROM documents)
        """,
        "events_hourly_rank": """
            WITH hourly AS (
                SELECT date_trunc('hour', ts) AS hour, event_type,
                       COUNT(*) AS n_events
                FROM events GROUP BY 1, 2
            )
            SELECT hour, event_type, n_events,
                   n_events - lag(n_events, 1) OVER
                       (PARTITION BY event_type ORDER BY hour)
                       AS delta_prev_hour,
                   dense_rank() OVER (PARTITION BY event_type
                                      ORDER BY n_events DESC, hour)
                       AS busy_rank
            FROM hourly
        """,
        "multimodal_frames": """
            WITH f AS (
              SELECT doc_id, text,
                     unnest(generate_series(0,
                        CAST(floor((length(text) - 1) / 128.0) AS BIGINT))) AS i
              FROM documents WHERE length(text) > 0)
            SELECT doc_id, i::INT AS frame_idx,
                   substr(text, (i * 128 + 1)::INT, 64) AS frame_text,
                   (i * 128)::INT AS byte_offset
            FROM f
        """,
        "streaming_extent": """
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   MIN(value) AS xmin, MIN((user_id % 100)::DOUBLE) AS ymin,
                   MAX(value) AS xmax, MAX((user_id % 100)::DOUBLE) AS ymax,
                   COUNT(*) AS n_events
            FROM events GROUP BY 1, 2
        """,
        # append mode emits exactly the windows whose END the final
        # watermark (max ts − 2h) has passed; still-open windows stay in
        # state. Equality at the boundary would need max(ts) to land on
        # an exact hour, which the micros-resolution fixture never does.
        "streaming_extent_append": """
            WITH wm AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS w FROM events)
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   MIN(value) AS xmin, MIN((user_id % 100)::DOUBLE) AS ymin,
                   MAX(value) AS xmax, MAX((user_id % 100)::DOUBLE) AS ymax,
                   COUNT(*) AS n_events
            FROM events, wm
            WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.w
            GROUP BY 1, 2
        """,
        # mirrors _q_streaming_enrich: batch twin of the stream-static
        # broadcast join + grouped totals
        "streaming_enrich": """
            SELECT c.c_mktsegment, e.event_type,
                   COUNT(*)::BIGINT AS n_events,
                   SUM(CAST(ROUND(e.value * 100) AS BIGINT))::BIGINT
                       AS sum_cents
            FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
            WHERE e.ts IS NOT NULL
            GROUP BY 1, 2
        """,
        # mirrors _q_value_quantiles: quantile_cont == Spark's exact
        # interpolated percentile definition
        "value_quantiles": """
            SELECT event_type, COUNT(*)::BIGINT AS n,
                   ((CASE WHEN (quantile_cont(value, 0.5)) < 0 THEN -1 ELSE 1 END) * floor(abs(quantile_cont(value, 0.5)) * 1000000.0 + 0.5) / 1000000.0 + 0.0) AS p50,
                   ((CASE WHEN (quantile_cont(value, 0.9)) < 0 THEN -1 ELSE 1 END) * floor(abs(quantile_cont(value, 0.9)) * 1000000.0 + 0.5) / 1000000.0 + 0.0) AS p90,
                   ((CASE WHEN (quantile_cont(value, 0.99)) < 0 THEN -1 ELSE 1 END) * floor(abs(quantile_cont(value, 0.99)) * 1000000.0 + 0.5) / 1000000.0 + 0.0) AS p99
            FROM events WHERE value IS NOT NULL
            GROUP BY event_type
        """,
        # mirrors _q_batch_sessions (operators.sessions.gap_sessions):
        # same (ts, event_id) ordering, strict 30-minute gap, session
        # index starting at 1 (lag NULL opens a session)
        "batch_sessions": """
            WITH d AS (
                SELECT user_id, event_id, ts,
                       CAST(ROUND(value * 100) AS BIGINT) AS cents,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS brk
                FROM events WHERE ts IS NOT NULL
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
                SELECT user_id, ts, cents,
                       SUM(brk) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sid
                FROM d
            )
            SELECT user_id, sid::INT AS session_idx,
                   epoch_us(MIN(ts)) AS start_us,
                   epoch_us(MAX(ts)) AS end_us,
                   COUNT(*)::BIGINT AS n_events,
                   SUM(cents)::BIGINT AS sum_cents
            FROM s GROUP BY user_id, sid
        """,
        "streaming_sessions": """
            WITH d AS (
                SELECT user_id, ts,
                       CAST(ROUND(value * 100) AS BIGINT) AS cents,
                       CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS brk
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), s AS (
                SELECT user_id, ts, cents,
                       SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
                FROM d
            )
            SELECT user_id,
                   epoch_us(MIN(ts)) AS session_start,
                   epoch_us(MAX(ts)) AS session_end,
                   COUNT(*) AS n_events, SUM(cents)::BIGINT AS total_cents
            FROM s GROUP BY user_id, sid
        """,
        "grid_spatial_join": """
            SELECT m - k AS m_minus_k, COUNT(*) AS n_pairs,
                   COUNT(DISTINCT o_orderkey) AS n_orders,
                   COUNT(DISTINCT p_partkey) AS n_parts
            FROM (SELECT o_orderkey, o_orderkey % 1000 AS k FROM orders),
                 (SELECT p_partkey, p_partkey % 1000 AS m FROM part)
            WHERE m - k BETWEEN -1 AND 2
            GROUP BY m - k ORDER BY m_minus_k
        """,
        # mirrors similarity.ivf_topk: centroids = vec_id < 8, argmax
        # assignment (ties -> lowest cid), nprobe=2, exact cosine within
        # probed lists
        "ivf_topk": """
            WITH vecs AS (SELECT vec_id,
                                 list_transform(embedding, x -> x::DOUBLE) AS v
                          FROM embeddings),
            cents AS (SELECT vec_id::INT AS cid, v AS cvec
                      FROM vecs WHERE vec_id < 8),
            scored AS (SELECT a.vec_id, c.cid,
                              ((CASE WHEN (list_cosine_similarity(a.v, c.cvec)) < 0 THEN -1 ELSE 1 END) * floor(abs(list_cosine_similarity(a.v, c.cvec)) * 1000000.0 + 0.5) / 1000000.0 + 0.0) AS cs
                       FROM vecs a, cents c),
            assign AS (SELECT vec_id, cid FROM (
                         SELECT vec_id, cid,
                                ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY cs DESC, cid) AS rn
                         FROM scored) WHERE rn = 1),
            probes AS (SELECT vec_id AS query_id, cid FROM (
                         SELECT vec_id, cid,
                                ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY cs DESC, cid) AS rn
                         FROM scored WHERE vec_id < 8) WHERE rn <= 2),
            vb AS (SELECT vecs.vec_id, v, assign.cid
                   FROM vecs JOIN assign ON vecs.vec_id = assign.vec_id),
            pairs AS (SELECT p.query_id, c.vec_id AS neighbor_id,
                             ((CASE WHEN (list_cosine_similarity(q.v, c.v)) < 0 THEN -1 ELSE 1 END) * floor(abs(list_cosine_similarity(q.v, c.v)) * 1000000.0 + 0.5) / 1000000.0 + 0.0) AS sim
                      FROM probes p
                      JOIN vb q ON q.vec_id = p.query_id
                      JOIN vb c ON c.cid = p.cid
                      WHERE c.vec_id != p.query_id)
            SELECT query_id, neighbor_id, sim, rank::INT AS rank FROM (
              SELECT query_id, neighbor_id, sim,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, neighbor_id) AS rank
              FROM pairs) WHERE rank <= 10
        """,
        "ivf_trained_topk": _ivf_trained_oracle(),
        "ivfpq_topk": _ivfpq_oracle(),
        "logreg_weights": _logreg_oracle(),
        "hll_setops": _hll_setops_oracle(),
        "streaming_ridge": _ridge_monitor_oracle(),
        "heldout_ppl": """
            WITH sp AS (SELECT doc_id, text,
                               ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 AS b
                        FROM documents),
            ttoks AS (SELECT unnest({wl}) AS w
                      FROM sp WHERE b < 9000),
            vocab AS (SELECT w, COUNT(*)::BIGINT AS cnt
                      FROM ttoks GROUP BY w),
            tot AS (SELECT COUNT(*)::BIGINT AS total FROM ttoks),
            vs AS (SELECT COUNT(*)::BIGINT AS v FROM vocab),
            htoks AS (SELECT doc_id, unnest({wl}) AS w
                      FROM sp WHERE b >= 9000),
            sc AS (SELECT h.doc_id, vocab.cnt
                   FROM htoks h LEFT JOIN vocab USING (w)),
            agg AS (SELECT COUNT(DISTINCT sc.doc_id)::BIGINT
                               AS n_test_docs,
                           COUNT(*)::BIGINT AS n_test_tokens,
                           SUM(CASE WHEN cnt IS NULL
                                    THEN 1 ELSE 0 END)::BIGINT AS n_oov,
                           SUM((CASE WHEN (ln((COALESCE(cnt, 0) + 1)::DOUBLE / ((total + v + 1))::DOUBLE)) < 0 THEN -1 ELSE 1 END) * CAST(floor(abs(ln((COALESCE(cnt, 0) + 1)::DOUBLE / ((total + v + 1))::DOUBLE)) * 1000000.0 + 0.5) AS BIGINT))::BIGINT
                               AS lp_micro_sum
                    FROM sc, tot, vs)
            SELECT n_test_docs, n_test_tokens, n_oov, lp_micro_sum,
                   (CASE WHEN (((CASE WHEN (exp(-((lp_micro_sum / 1000000.0) / n_test_tokens))) < 0 THEN -1 ELSE 1 END) * floor(abs(exp(-((lp_micro_sum / 1000000.0) / n_test_tokens))) * 1000000.0 + 0.5) / 1000000.0 + 0.0)) < 0 THEN -1 ELSE 1 END) * CAST(floor(abs(((CASE WHEN (exp(-((lp_micro_sum / 1000000.0) / n_test_tokens))) < 0 THEN -1 ELSE 1 END) * floor(abs(exp(-((lp_micro_sum / 1000000.0) / n_test_tokens))) * 1000000.0 + 0.5) / 1000000.0 + 0.0)) * 1000000.0 + 0.5) AS BIGINT) AS ppl_micro
            FROM agg
        """.format(wl="string_split_regex(trim(lower(text)), '\\s+')"),
        # full SQL replay of the interpolated bigram LM: lateral-unnest
        # bigrams (w[i], w[i+1]), the same 0.75/0.25 JM mix in the same
        # op order, micro-int pair logprobs, heldout_ppl's ln/exp chain
        "bigram_ppl": _bigram_ppl_oracle(),
        "kn_bigram_ppl": _kn_bigram_ppl_oracle(),
        "cluster_cohesion": _cluster_cohesion_oracle(),
        # PCA power-iteration replay: milli quantization, exact int64
        # Gram (::BIGINT vs HUGEINT), two unrolled integer rounds with
        # the identical half-up renormalization
        "pca_power": """
            WITH q AS (
              SELECT vec_id, t.i,
                     (CASE WHEN embedding[t.i::INT]::DOUBLE < 0
                           THEN -1 ELSE 1 END)
                     * CAST(floor(abs(embedding[t.i::INT]::DOUBLE)
                                  * 1000.0 + 0.5) AS BIGINT) AS qv
              FROM embeddings,
                   unnest(range(1, len(embedding) + 1)) AS t(i)
            ), gram AS (
              SELECT a.i, b.i AS j, SUM(a.qv * b.qv)::BIGINT AS g
              FROM q a JOIN q b USING (vec_id) GROUP BY a.i, b.i
            ), r0 AS (
              SELECT i, 1000::BIGINT AS v
              FROM (SELECT DISTINCT i FROM q)
            ), w1 AS (
              SELECT g.i, SUM(g.g * r0.v)::BIGINT AS w
              FROM gram g JOIN r0 ON r0.i = g.j GROUP BY g.i
            ), m1 AS (SELECT MAX(abs(w))::BIGINT AS m FROM w1),
            r1 AS (
              SELECT i, ((CASE WHEN w < 0 THEN -1 ELSE 1 END)
                         * ((2000 * abs(w) + m) // (2 * m)))::BIGINT AS v
              FROM w1, m1
            ), w2 AS (
              SELECT g.i, SUM(g.g * r1.v)::BIGINT AS w
              FROM gram g JOIN r1 ON r1.i = g.j GROUP BY g.i
            ), m2 AS (SELECT MAX(abs(w))::BIGINT AS m FROM w2)
            SELECT i::INT AS pos,
                   ((CASE WHEN w < 0 THEN -1 ELSE 1 END)
                    * ((2000 * abs(w) + m) // (2 * m)))::BIGINT AS v_milli
            FROM w2, m2
        """,
        # curriculum replay: the quality_filter score chain, 9 decile
        # thresholds via quantile_cont (== Spark's exact interpolated
        # percentile — the quality_filter parity), map-only bucketing
        "curriculum_order": f"""
            WITH toks AS (
              SELECT doc_id, unnest({_WORDS_LOWER}) AS w FROM documents
            ), vocab AS (
              SELECT w, COUNT(*)::BIGINT AS cnt FROM toks GROUP BY w
            ), tot AS (
              SELECT COUNT(*)::BIGINT AS total FROM toks
            ), lp AS (
              SELECT t.doc_id,
                     CAST((CASE WHEN ln(v.cnt::DOUBLE / tot.total::DOUBLE)
                                     < 0 THEN -1 ELSE 1 END)
                          * floor(abs(ln(v.cnt::DOUBLE / tot.total::DOUBLE))
                                  * 1000000.0 + 0.5) AS BIGINT) AS lp
              FROM toks t JOIN vocab v USING (w), tot
            ), scored AS (
              SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
                     CAST(SUM(lp) AS BIGINT) AS lp_micro_sum
              FROM lp GROUP BY doc_id
            ), s2 AS (
              SELECT *, lp_micro_sum::DOUBLE / n_tokens AS score
              FROM scored WHERE n_tokens > 0
            ), thr AS (
              SELECT quantile_cont(score,
                [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS t
              FROM s2
            )
            SELECT doc_id, n_tokens, lp_micro_sum,
                   (9 - len(list_filter(thr.t, x -> x <= score)))::INT
                     AS bucket,
                   ('0x' || substr(md5('cur0|' || doc_id::VARCHAR), 1, 8))
                     ::BIGINT AS sort_key
            FROM s2, thr
        """,
        # Zipf fit replay: same rank window, milli-int log points,
        # exact int64 sums, closed-form slope/intercept at 6 dp
        "zipf_fit": """
            WITH cnt AS (
              SELECT source AS grp, t, COUNT(*)::BIGINT AS c
              FROM (SELECT source,
                           unnest(string_split_regex(
                             trim(lower(text)), '\\s+')) AS t
                    FROM documents)
              WHERE t <> '' GROUP BY source, t
            ), ranked AS (
              SELECT grp, c, ROW_NUMBER() OVER (
                       PARTITION BY grp ORDER BY c DESC, t) AS r
              FROM cnt QUALIFY r <= 100
            ), pts AS (
              SELECT grp,
                     (CASE WHEN (ln(r::DOUBLE)) < 0 THEN -1 ELSE 1 END)
                     * CAST(floor(abs(ln(r::DOUBLE)) * 1000.0 + 0.5)
                            AS BIGINT) AS x,
                     (CASE WHEN (ln(c::DOUBLE)) < 0 THEN -1 ELSE 1 END)
                     * CAST(floor(abs(ln(c::DOUBLE)) * 1000.0 + 0.5)
                            AS BIGINT) AS y
              FROM ranked
            ), s AS (
              SELECT grp, COUNT(*)::BIGINT AS n,
                     SUM(x)::BIGINT AS sx, SUM(y)::BIGINT AS sy,
                     SUM(x * y)::BIGINT AS sxy,
                     SUM(x * x)::BIGINT AS sxx
              FROM pts GROUP BY grp
            ), sl AS (
              SELECT grp, n, sx, sy,
                     ((CASE WHEN ((n * sxy - sx * sy)::DOUBLE
                                  / (n * sxx - sx * sx)::DOUBLE) < 0
                            THEN -1 ELSE 1 END)
                      * floor(abs((n * sxy - sx * sy)::DOUBLE
                                  / (n * sxx - sx * sx)::DOUBLE)
                              * 1000000.0 + 0.5) / 1000000.0 + 0.0)
                       AS slope
              FROM s
            )
            SELECT grp AS source, n::INT AS n_points, slope,
                   ((CASE WHEN ((sy::DOUBLE - slope * sx::DOUBLE)
                                / n::DOUBLE) < 0 THEN -1 ELSE 1 END)
                    * floor(abs((sy::DOUBLE - slope * sx::DOUBLE)
                                / n::DOUBLE) * 1000000.0 + 0.5)
                    / 1000000.0 + 0.0) AS intercept
            FROM sl
        """,
        # distinct-n diversity replay: same lateral-unnest unigrams/
        # bigrams, exact counts, shared scaled-integer 6-dp ratios
        "distinct_ngrams": """
            WITH base AS (
              SELECT source AS grp,
                     string_split_regex(trim(lower(text)), '\\s+') AS w
              FROM documents
            ), uni AS (
              SELECT grp, COUNT(*)::BIGINT AS n_tokens,
                     COUNT(DISTINCT t)::BIGINT AS n_distinct_1
              FROM (SELECT grp, unnest(w) AS t FROM base)
              WHERE t <> '' GROUP BY grp
            ), bi AS (
              SELECT grp, COUNT(*)::BIGINT AS n_bigrams,
                     COUNT(DISTINCT b)::BIGINT AS n_distinct_2
              FROM (SELECT grp,
                           w[i::INT] || ' ' || w[(i + 1)::INT] AS b
                    FROM base, unnest(range(1, len(w))) AS t(i))
              GROUP BY grp
            )
            SELECT uni.grp AS source, n_tokens, n_distinct_1,
                   ((2000000 * n_distinct_1 + n_tokens)
                    // (2 * n_tokens)) / 1000000.0 AS distinct1_ratio,
                   n_bigrams, n_distinct_2,
                   ((2000000 * n_distinct_2 + n_bigrams)
                    // (2 * n_bigrams)) / 1000000.0 AS distinct2_ratio
            FROM uni JOIN bi USING (grp)
        """,
        # A-ES race replay: exact-double u (power-of-two divide),
        # micro-rounded clocks, (clock, key) rank — wrs_topn twin
        "weighted_topn": """
            WITH k AS (
              SELECT source, doc_id, (n_chars + 1)::BIGINT AS w,
                     (CASE WHEN (-ln((('0x' || substr(md5(
                              'ws0|' || doc_id::VARCHAR), 1, 8))::BIGINT
                              + 1)::DOUBLE / 4294967296.0)
                            / (n_chars + 1)::DOUBLE) < 0
                           THEN -1 ELSE 1 END)
                     * CAST(floor(abs(-ln((('0x' || substr(md5(
                              'ws0|' || doc_id::VARCHAR), 1, 8))::BIGINT
                              + 1)::DOUBLE / 4294967296.0)
                            / (n_chars + 1)::DOUBLE) * 1000000.0 + 0.5)
                            AS BIGINT) AS clock_micro
              FROM documents
            )
            SELECT source, doc_id, w, clock_micro, rn::INT AS rank
            FROM (SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY source
                    ORDER BY clock_micro, doc_id) AS rn FROM k)
            WHERE rn <= 5
        """,
        # chi2 homogeneity identity + Laplace PSI, per-term micro
        # rounding before the sums (categorical_drift replay)
        "cat_drift": """
            WITH t AS (
              SELECT event_type,
                     CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS a
              FROM events WHERE event_type IS NOT NULL
            ), hist AS (
              SELECT event_type, SUM(a)::BIGINT AS na_i,
                     SUM(1 - a)::BIGINT AS nb_i
              FROM t GROUP BY event_type
            ), tot AS (
              SELECT COUNT(*)::BIGINT AS c, SUM(na_i)::BIGINT AS n_a,
                     SUM(nb_i)::BIGINT AS n_b
              FROM hist
            ), terms AS (
              SELECT c, n_a, n_b,
                -- chi terms are nonnegative; carried at NANO (1e9)
                -- fixed point (r7 ADVICE #3), matching evals.py
                -- cat_drift_from_hist's nano_nonneg
                CAST(floor((((na_i * n_b - nb_i * n_a)::DOUBLE
                             * (na_i * n_b - nb_i * n_a)::DOUBLE)
                            / ((na_i + nb_i)::DOUBLE * n_a::DOUBLE
                               * n_b::DOUBLE)) * 1000000000.0 + 0.5)
                     AS BIGINT) AS chi_nano,
                (CASE WHEN ((((na_i + 1)::DOUBLE / (n_a + c)::DOUBLE)
                             - ((nb_i + 1)::DOUBLE / (n_b + c)::DOUBLE))
                            * ln(((na_i + 1)::DOUBLE / (n_a + c)::DOUBLE)
                                 / ((nb_i + 1)::DOUBLE
                                    / (n_b + c)::DOUBLE))) < 0
                      THEN -1 ELSE 1 END)
                * CAST(floor(abs((((na_i + 1)::DOUBLE / (n_a + c)::DOUBLE)
                                  - ((nb_i + 1)::DOUBLE
                                     / (n_b + c)::DOUBLE))
                                 * ln(((na_i + 1)::DOUBLE
                                       / (n_a + c)::DOUBLE)
                                      / ((nb_i + 1)::DOUBLE
                                         / (n_b + c)::DOUBLE)))
                             * 1000000.0 + 0.5) AS BIGINT) AS psi_t
              FROM hist, tot
            ), summed AS (
              SELECT MAX(c)::BIGINT AS n_cats,
                     MAX(n_a)::BIGINT AS n_a, MAX(n_b)::BIGINT AS n_b,
                     SUM(chi_nano)::BIGINT AS chi_nano,
                     SUM(psi_t)::BIGINT AS psi_micro
              FROM terms
            )
            -- exact int64 identity N*nano/1000 (half-up), the same
            -- expression evals.py emits
            SELECT n_cats, n_a, n_b,
                   ((n_a + n_b) * (chi_nano // 1000)
                    + ((n_a + n_b) * (chi_nano % 1000) + 500) // 1000)
                     ::BIGINT AS chi2_micro,
                   psi_micro
            FROM summed
        """,
        "mlm_masking": """
            WITH toks AS (
              SELECT doc_id, len(w)::BIGINT AS n_words, i - 1 AS pos,
                     w[i] AS tok
              FROM (SELECT doc_id, {words} AS w FROM documents),
                   unnest(range(1, len(w) + 1)) AS t(i)),
            pool AS (SELECT tok, COUNT(*)::BIGINT AS c FROM toks
                     GROUP BY tok ORDER BY c DESC, tok LIMIT 1024),
            vocab AS (SELECT tok AS vtok,
                             (ROW_NUMBER() OVER (ORDER BY c DESC, tok)
                              - 1)::BIGINT AS vidx
                      FROM pool),
            nv AS (SELECT COUNT(*)::BIGINT AS n_vocab FROM vocab),
            sel AS (SELECT doc_id, n_words, pos, tok,
                           (('0x' || substr(md5('mm1|' || doc_id || '|' || pos), 1, 8))::BIGINT % 1000 < 150) AS hit,
                           (('0x' || substr(md5('mm1|' || doc_id || '|' || pos || '|A'), 1, 8))::BIGINT % 10) AS act,
                           (('0x' || substr(md5('mm1|' || doc_id || '|' || pos || '|R'), 1, 8))::BIGINT % n_vocab) AS ridx
                    FROM toks, nv),
            sel2 AS (SELECT s.*, v.vtok FROM sel s
                     LEFT JOIN vocab v ON v.vidx = s.ridx),
            agg AS (SELECT doc_id, n_words,
                       string_agg(CASE WHEN NOT hit THEN tok
                                       WHEN act < 8 THEN '[MASK]'
                                       WHEN act = 8 THEN vtok
                                       ELSE tok END,
                                  ' ' ORDER BY pos) AS masked,
                       string_agg(CASE WHEN hit
                                       THEN pos || ':' || tok END,
                                  ' ' ORDER BY pos) AS labels,
                       SUM(CASE WHEN hit AND act < 8
                                THEN 1 ELSE 0 END)::BIGINT AS n_masked,
                       SUM(CASE WHEN hit AND act = 8
                                THEN 1 ELSE 0 END)::BIGINT AS n_replaced,
                       SUM(CASE WHEN hit AND act = 9
                                THEN 1 ELSE 0 END)::BIGINT AS n_kept
                    FROM sel2 GROUP BY doc_id, n_words)
            SELECT doc_id, COALESCE(masked, '') AS masked,
                   COALESCE(labels, '') AS labels, n_masked,
                   n_replaced, n_kept, n_words
            FROM agg
        """.format(words=_WORDS),
        "span_corruption": """
            WITH toks AS (
              SELECT doc_id, len(w)::BIGINT AS n_words, i - 1 AS pos,
                     w[i] AS tok
              FROM (SELECT doc_id, {words} AS w FROM documents),
                   unnest(range(1, len(w) + 1)) AS t(i)),
            cand0 AS (SELECT doc_id, pos,
                             2 + (('0x' || substr(md5('sc1|' || doc_id || '|' || pos || '|L'), 1, 8))::BIGINT % 3) AS slen
                      FROM toks
                      WHERE ('0x' || substr(md5('sc1|' || doc_id || '|' || pos), 1, 8))::BIGINT % 1000 < 50),
            cand1 AS (SELECT doc_id, pos, slen,
                             COALESCE(MAX(pos + slen - 1) OVER (
                                 PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), -1) AS prev_end
                      FROM cand0),
            cand2 AS (SELECT doc_id, pos, slen,
                             SUM(CASE WHEN pos > prev_end
                                      THEN 1 ELSE 0 END) OVER (
                                 PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS isl
                      FROM cand1),
            cov AS (SELECT DISTINCT doc_id, isl, pos + g.i AS pos
                    FROM cand2, unnest(range(0, slen)) AS g(i)),
            tk AS (SELECT t.doc_id, t.n_words, t.pos, t.tok, c.isl
                   FROM toks t LEFT JOIN cov c
                        ON c.doc_id = t.doc_id AND c.pos = t.pos),
            tk2 AS (SELECT *,
                           CASE WHEN isl IS NOT NULL THEN
                                MIN(pos) OVER (PARTITION BY doc_id, isl)
                           END AS isl_first
                    FROM tk),
            agg AS (SELECT doc_id, n_words,
                       string_agg(CASE WHEN isl IS NULL THEN tok
                                       WHEN pos = isl_first
                                       THEN '<X_' || isl || '>' END,
                                  ' ' ORDER BY pos) AS inputs,
                       string_agg(CASE WHEN isl IS NOT NULL THEN
                                    CASE WHEN pos = isl_first
                                         THEN '<X_' || isl || '> ' || tok
                                         ELSE tok END END,
                                  ' ' ORDER BY pos) AS targets,
                       COUNT(DISTINCT isl)::BIGINT AS n_spans,
                       SUM(CASE WHEN isl IS NOT NULL
                                THEN 1 ELSE 0 END)::BIGINT
                           AS n_corrupt_tokens
                    FROM tk2 GROUP BY doc_id, n_words)
            SELECT doc_id, COALESCE(inputs, '') AS inputs,
                   COALESCE(targets, '') AS targets, n_spans,
                   COALESCE(n_corrupt_tokens, 0)::BIGINT
                       AS n_corrupt_tokens,
                   n_words
            FROM agg
        """.format(words=_WORDS),
        "hard_negatives": """
            WITH vecs AS (SELECT vec_id,
                                 list_transform(embedding, x -> x::DOUBLE)
                                     AS v,
                                 label FROM embeddings),
            anchors AS (SELECT vec_id AS anchor_id, v AS av,
                               label AS anchor_label
                        FROM vecs WHERE vec_id < 8),
            pairs AS (SELECT q.anchor_id, q.anchor_label,
                             a.vec_id AS negative_id,
                             a.label AS negative_label,
                             ((CASE WHEN (list_cosine_similarity(a.v, q.av)) < 0 THEN -1 ELSE 1 END) * floor(abs(list_cosine_similarity(a.v, q.av)) * 1000000.0 + 0.5) / 1000000.0 + 0.0) AS sim
                      FROM vecs a, anchors q
                      WHERE a.label != q.anchor_label
                        AND a.vec_id != q.anchor_id)
            SELECT anchor_id, anchor_label, negative_id, negative_label,
                   sim, rank::INT AS rank FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                           ORDER BY sim DESC, negative_id) AS rank
              FROM pairs) WHERE rank <= 5
        """,
        "linreg_weights": _ridge_weights_oracle(),
        "linreg_score": _ridge_score_oracle(),
        "pq_topk": _pq_oracle(),
        "semantic_dedup": _semantic_dedup_oracle(),
        # mirrors _q_knn_join: ivf_topk's replay with probes over the
        # WHOLE corpus and k=5
        "knn_join": """
            WITH vecs AS (SELECT vec_id,
                                 list_transform(embedding, x -> x::DOUBLE) AS v
                          FROM embeddings),
            cents AS (SELECT vec_id::INT AS cid, v AS cvec
                      FROM vecs WHERE vec_id < 8),
            scored AS (SELECT a.vec_id, c.cid,
                              ((CASE WHEN (list_cosine_similarity(a.v, c.cvec)) < 0 THEN -1 ELSE 1 END) * floor(abs(list_cosine_similarity(a.v, c.cvec)) * 1000000.0 + 0.5) / 1000000.0 + 0.0) AS cs
                       FROM vecs a, cents c),
            assign AS (SELECT vec_id, cid FROM (
                         SELECT vec_id, cid,
                                ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY cs DESC, cid) AS rn
                         FROM scored) WHERE rn = 1),
            probes AS (SELECT vec_id AS query_id, cid FROM (
                         SELECT vec_id, cid,
                                ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY cs DESC, cid) AS rn
                         FROM scored) WHERE rn <= 2),
            vb AS (SELECT vecs.vec_id, v, assign.cid
                   FROM vecs JOIN assign ON vecs.vec_id = assign.vec_id),
            pairs AS (SELECT p.query_id, c.vec_id AS neighbor_id,
                             ((CASE WHEN (list_cosine_similarity(q.v, c.v)) < 0 THEN -1 ELSE 1 END) * floor(abs(list_cosine_similarity(q.v, c.v)) * 1000000.0 + 0.5) / 1000000.0 + 0.0) AS sim
                      FROM probes p
                      JOIN vecs q ON q.vec_id = p.query_id
                      JOIN vb c ON c.cid = p.cid
                      WHERE c.vec_id != p.query_id)
            SELECT query_id, neighbor_id, sim, rank::INT AS rank FROM (
              SELECT query_id, neighbor_id, sim,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, neighbor_id) AS rank
              FROM pairs) WHERE rank <= 5
        """,
        "streaming_first_seen": """
            WITH d AS (
                SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
                       ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                          ORDER BY ts, event_id) AS rn,
                       COUNT(*) OVER (PARTITION BY user_id, event_type)
                           AS n_events
                FROM events)
            SELECT user_id, event_type, ts_us AS first_ts_us,
                   event_id AS first_event_id, n_events
            FROM d WHERE rn = 1
        """,
        "range_tag_events": """
            SELECT n_nationkey, COUNT(*) AS n_events,
                   SUM(CAST(ROUND(value * 100) AS BIGINT))::BIGINT
                       AS sum_cents
            FROM events e JOIN nation n
              ON e.value >= n.n_nationkey * 20.0
             AND e.value <= n.n_nationkey * 20.0 + n.n_regionkey * 5.0 + 10.0
            GROUP BY n_nationkey
        """,
        "hash_split": """
            SELECT doc_id, h % 10000 AS bucket,
                   CASE WHEN h % 10000 < 9800 THEN 'train'
                        WHEN h % 10000 < 9900 THEN 'valid'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id,
                         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                             ::BIGINT AS h
                  FROM documents)
        """,
        # mirrors _q_gopher_quality: same scaled-integer ratio math as
        # text_stats (see _ratio6)
        "gopher_quality": f"""
            SELECT doc_id, n::INT AS n_words,
                   mean6 AS mean_word_len,
                   alpha6 AS alpha_ratio,
                   dstops::INT AS distinct_stops,
                   (n BETWEEN 50 AND 100000
                    AND mean6 >= 3.0 AND mean6 <= 10.0
                    AND alpha6 >= 0.8 AND dstops >= 2) AS keep
            FROM (
              SELECT doc_id, n,
                     ((2000000*nchars + n) // (2*n)) / 1000000.0 AS mean6,
                     ((2000000*alpha + n) // (2*n)) / 1000000.0 AS alpha6,
                     dstops
              FROM (
                SELECT doc_id, len(w)::BIGINT AS n,
                       length(regexp_replace(text, '\\s+', '', 'g'))::BIGINT
                           AS nchars,
                       len(list_filter(w,
                           x -> regexp_matches(x, '[A-Za-z]')))::BIGINT
                           AS alpha,
                       len(list_distinct(list_filter(w,
                           x -> x IN ({_stop_list()}))))::BIGINT AS dstops
                FROM (SELECT doc_id, text, {_WORDS} AS w FROM documents)))
        """,
        "repetition_filter": f"""
            SELECT doc_id, n::INT AS n_words,
                   CASE WHEN n > 0 THEN
                     ((2000000*(n - dw) + n) // (2*n)) / 1000000.0
                   ELSE 0.0 END AS dup_word_ratio,
                   CASE WHEN n2 > 0 THEN
                     ((2000000*(n2 - d2) + n2) // (2*n2)) / 1000000.0
                   ELSE 0.0 END AS dup_bigram_ratio,
                   CASE WHEN n3 > 0 THEN
                     ((2000000*(n3 - d3) + n3) // (2*n3)) / 1000000.0
                   ELSE 0.0 END AS dup_trigram_ratio,
                   (CASE WHEN n3 > 0 THEN
                     ((2000000*(n3 - d3) + n3) // (2*n3)) / 1000000.0
                   ELSE 0.0 END) <= 0.5 AS keep
            FROM (
              SELECT doc_id,
                     len(w)::BIGINT AS n,
                     len(list_distinct(w))::BIGINT AS dw,
                     len(g2)::BIGINT AS n2,
                     len(list_distinct(g2))::BIGINT AS d2,
                     len(g3)::BIGINT AS n3,
                     len(list_distinct(g3))::BIGINT AS d3
              FROM (
                SELECT doc_id, w,
                       list_transform(generate_series(1, len(w)-1),
                           i -> w[i] || ' ' || w[i+1]) AS g2,
                       list_transform(generate_series(1, len(w)-2),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS g3
                FROM (SELECT doc_id, {_WORDS} AS w FROM documents)))
        """,
        # mirrors _q_pii_mask: identical injected PII, identical regexes
        # (Java-regex ∩ RE2 subset, operators/text.py EMAIL_RE/PHONE_RE)
        "pii_mask": f"""
            WITH d AS (
              SELECT doc_id,
                     text || ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@mail.example or +1 (555) 010-'
                          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                         AS text
              FROM documents)
            SELECT doc_id,
                   regexp_replace(
                     regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                     '{_PHONE_RE}', '<PHONE>', 'g') AS masked_text,
                   len(regexp_extract_all(text, '{_EMAIL_RE}'))::INT
                       AS n_emails,
                   len(regexp_extract_all(text, '{_PHONE_RE}'))::INT
                       AS n_phones
            FROM d
        """,
        "stratified_sample": """
            SELECT doc_id, lang FROM (
              SELECT doc_id, lang,
                     row_number() OVER (PARTITION BY lang
                         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                         AS rn
              FROM documents) WHERE rn <= 10
        """,
        "pack_sequences": f"""
            WITH t AS (
              SELECT doc_id,
                     ({_H64.format(arg="CAST(doc_id AS VARCHAR)")} % 16)
                         AS bucket,
                     len({_WORDS})::BIGINT AS n_tokens
              FROM documents),
            s AS (
              SELECT doc_id, bucket, n_tokens,
                     COALESCE(SUM(n_tokens) OVER (PARTITION BY bucket
                         ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS st
              FROM t)
            SELECT doc_id, bucket::INT AS bucket, (st // 512)::BIGINT AS seq_id,
                   (st % 512)::INT AS seq_offset, n_tokens
            FROM s
        """,
        # mirrors _q_hourly_rollup: the incrementally-maintained table's
        # final state == the one-shot GROUP BY
        # hour via exact integer micros: epoch(ts)::BIGINT ROUNDS
        # fractional seconds (an hh:59:59.6 event would cross the hour)
        # while Spark's unix_timestamp truncates — floor-division on
        # epoch_us composes identically
        "hourly_rollup": """
            SELECT epoch_us(ts) // 3600000000 AS hour, event_type,
                   COUNT(*) AS n_events,
                   COUNT(DISTINCT user_id) AS n_users,
                   SUM(CAST(ROUND(value * 100) AS BIGINT))::BIGINT
                       AS sum_cents
            FROM events GROUP BY 1, 2
        """,
        # mirrors _q_streaming_join: inner stream-stream results emit on
        # match, so the bounded replay equals this batch interval join
        "streaming_join": """
            SELECT a.user_id, a.event_id AS click_id, b.event_id AS view_id,
                   epoch_us(a.ts) AS click_ts_us,
                   epoch_us(b.ts) AS view_ts_us
            FROM events a JOIN events b
              ON a.user_id = b.user_id
             AND a.event_type = 'click' AND b.event_type = 'view'
             AND b.ts >= a.ts - INTERVAL 1 HOUR AND b.ts <= a.ts
        """,
        # mirrors _q_streaming_rollup: the maintained table's final state
        # equals the one-shot GROUP BY; event-time windows drop NULL ts
        "streaming_rollup": """
            SELECT epoch_us(ts) // 3600000000 AS hour, event_type,
                   COUNT(*) AS n_events,
                   SUM(CAST(ROUND(value * 100) AS BIGINT))::BIGINT
                       AS sum_cents,
                   MIN(value) AS min_value,
                   MAX(value) AS max_value
            FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
        """,
        # mirrors _q_streaming_curation: bounded availableNow replay ==
        # this batch query (gopher gate -> md5 first-seen, arg_min ties)
        "streaming_curation": f"""
            WITH corpus AS (
              SELECT doc_id, text, lang FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text, lang FROM documents),
            q AS (
              SELECT doc_id, text, lang, len(w)::BIGINT AS n,
                     length(regexp_replace(text, '\\s+', '', 'g'))::BIGINT
                         AS nchars,
                     len(list_filter(w,
                         x -> regexp_matches(x, '[A-Za-z]')))::BIGINT
                         AS alpha,
                     len(list_distinct(list_filter(w,
                         x -> x IN ({_stop_list()}))))::BIGINT AS dstops
              FROM (SELECT doc_id, text, lang, {_WORDS} AS w
                    FROM corpus)),
            kept AS (
              SELECT doc_id, text, lang, n FROM q
              WHERE n BETWEEN 50 AND 100000
                AND ((2000000*nchars + n) // (2*n)) / 1000000.0 >= 3.0
                AND ((2000000*nchars + n) // (2*n)) / 1000000.0 <= 10.0
                AND ((2000000*alpha + n) // (2*n)) / 1000000.0 >= 0.8
                AND dstops >= 2)
            SELECT md5(text) AS text_md5,
                   MIN(doc_id) AS canonical_id,
                   arg_min(lang, doc_id) AS lang,
                   arg_min(n, doc_id)::INT AS n_tokens,
                   COUNT(*) AS n_copies
            FROM kept GROUP BY md5(text)
        """,
        "vocab_topk": f"""
            SELECT word, COUNT(*) AS n_occurrences,
                   COUNT(DISTINCT doc_id) AS n_docs
            FROM (SELECT doc_id, unnest({_WORDS}) AS word FROM documents)
            GROUP BY word
            ORDER BY n_occurrences DESC, word ASC
            LIMIT 50
        """,
        # mirrors _q_count_min_topk: same md5-seeded cells, same
        # collisions, same (est desc, tok asc) top-k
        "count_min_topk": f"""
            WITH toks AS (
              SELECT unnest({_WORDS}) AS tok FROM documents
            ), upd AS (
              SELECT i,
                     ('0x' || substr(md5('cm' || i || '|' || tok), 1, 8))
                       ::BIGINT % 1024 AS cell
              FROM toks, range(4) AS r(i)
            ), sk AS (
              SELECT i, cell, COUNT(*)::BIGINT AS cnt
              FROM upd GROUP BY i, cell
            ), probes AS (
              SELECT DISTINCT tok FROM toks
            ), ph AS (
              SELECT tok, i,
                     ('0x' || substr(md5('cm' || i || '|' || tok), 1, 8))
                       ::BIGINT % 1024 AS cell
              FROM probes, range(4) AS r(i)
            )
            SELECT tok, MIN(cnt)::BIGINT AS est_cnt
            FROM ph JOIN sk USING (i, cell)
            GROUP BY tok
            ORDER BY est_cnt DESC, tok ASC
            LIMIT 20
        """,
        # mirrors _q_bloom_new_docs: same positions, same FP set
        "bloom_new_docs": """
            WITH d AS (
              SELECT doc_id, md5(text) AS key FROM documents
            ), corpus AS (
              SELECT key FROM d WHERE doc_id % 3 <> 0
            ), batch AS (
              SELECT doc_id, key FROM d WHERE doc_id % 3 = 0
            ), positions AS (
              SELECT DISTINCT
                     ('0x' || substr(md5('bf' || i || '|' || key), 1, 8))
                       ::BIGINT % 65536 AS pos
              FROM corpus, range(3) AS r(i)
            ), probe AS (
              SELECT DISTINCT key,
                     ('0x' || substr(md5('bf' || i || '|' || key), 1, 8))
                       ::BIGINT % 65536 AS pos
              FROM batch, range(3) AS r(i)
            ), dup AS (
              SELECT p.key
              FROM probe p LEFT JOIN positions q ON p.pos = q.pos
              GROUP BY p.key
              HAVING MIN(CASE WHEN q.pos IS NULL THEN 0 ELSE 1 END) = 1
            )
            SELECT doc_id FROM batch
            WHERE key NOT IN (SELECT key FROM dup)
        """,
        # mirrors _q_hll_registers: identical hash, register split, and
        # minimal-binary-length rho
        "hll_registers": """
            WITH h AS (
              SELECT ('0x' || substr(md5(
                       'hll0|' || CAST(user_id AS VARCHAR)), 1, 8))
                       ::BIGINT AS hv
              FROM events WHERE user_id IS NOT NULL
            ), r AS (
              SELECT hv % 256 AS register, hv // 256 AS v FROM h
            )
            SELECT register,
                   MAX(CASE WHEN v > 0 THEN 25 - length(bin(v))
                            ELSE 25 END)::INT AS rho
            FROM r GROUP BY register
        """,
        # mirrors _q_hll_estimate: same registers, exact integer
        # z_scaled, then the identical literal/op chain for the estimate
        "hll_estimate": """
            WITH h AS (
              SELECT ('0x' || substr(md5(
                       'hll0|' || CAST(user_id AS VARCHAR)), 1, 8))
                       ::BIGINT AS hv
              FROM events WHERE user_id IS NOT NULL
            ), r AS (
              SELECT hv % 256 AS register, hv // 256 AS v FROM h
            ), regs AS (
              SELECT register,
                     MAX(CASE WHEN v > 0 THEN 25 - length(bin(v))
                              ELSE 25 END) AS rho
              FROM r GROUP BY register
            ), agg AS (
              SELECT COUNT(*)::BIGINT AS n_registers,
                     SUM(CAST(pow(2.0, 25 - rho) AS BIGINT))::BIGINT
                       AS z_scaled
              FROM regs
            ), est AS (
              SELECT n_registers, z_scaled,
                     CASE WHEN (47072.71267120224::DOUBLE * 33554432.0::DOUBLE
                                / CAST(z_scaled
                                       + (256 - n_registers) * 33554432
                                       AS DOUBLE)) <= 640.0
                               AND (256 - n_registers) > 0
                          THEN 256.0 * ln(256.0 /
                                 CAST(256 - n_registers AS DOUBLE))
                          ELSE (47072.71267120224::DOUBLE * 33554432.0::DOUBLE
                                / CAST(z_scaled
                                       + (256 - n_registers) * 33554432
                                       AS DOUBLE)) END AS e
              FROM agg
            )
            SELECT n_registers, z_scaled,
                   (CASE WHEN e < 0 THEN -1 ELSE 1 END)
                     * floor(abs(e) * 1000000.0 + 0.5) / 1000000.0 + 0.0
                     AS est
            FROM est
        """,
        # streaming twin: bounded replay == the same batch register table
        "streaming_hll": """
            WITH h AS (
              SELECT ('0x' || substr(md5(
                       'hll0|' || CAST(user_id AS VARCHAR)), 1, 8))
                       ::BIGINT AS hv
              FROM events WHERE user_id IS NOT NULL
            ), r AS (
              SELECT hv % 256 AS register, hv // 256 AS v FROM h
            )
            SELECT register,
                   MAX(CASE WHEN v > 0 THEN 25 - length(bin(v))
                            ELSE 25 END)::INT AS rho
            FROM r GROUP BY register
        """,
        "bpe_merges": _bpe_oracle(8),
        "tokenizer_fertility": _tokenizer_fertility_oracle(8),
        "tokenizer_selection": _tokenizer_selection_oracle((2, 4, 8)),
        # per-label mean-vector cosine between corpus versions; means
        # 6-dp rounded after AVG (the kmeans-update discipline) so the
        # cosine is engine-exact; dim = 64 (the fixture embedding)
        "embedding_drift": """
            WITH base AS (
              SELECT vec_id, label::INT AS label,
                     list_transform(embedding, x -> x::DOUBLE) AS v
              FROM embeddings
            ), old AS (
              SELECT label, v FROM base WHERE vec_id % 11 <> 0
            ), newv AS (
              SELECT label,
                     CASE WHEN vec_id % 7 = 0
                          THEN list_transform(v, x -> x + 0.25)
                          ELSE v END AS v
              FROM base WHERE vec_id % 13 <> 0
            ), om AS (
              SELECT label, g.i,
                     ((CASE WHEN (AVG(v[g.i])) < 0 THEN -1 ELSE 1 END)
                      * floor(abs(AVG(v[g.i])) * 1000000.0 + 0.5)
                      / 1000000.0 + 0.0) AS mx
              FROM old, generate_series(1, 64) AS g(i)
              GROUP BY label, g.i
            ), nm AS (
              SELECT label, g.i,
                     ((CASE WHEN (AVG(v[g.i])) < 0 THEN -1 ELSE 1 END)
                      * floor(abs(AVG(v[g.i])) * 1000000.0 + 0.5)
                      / 1000000.0 + 0.0) AS mx
              FROM newv, generate_series(1, 64) AS g(i)
              GROUP BY label, g.i
            ), omv AS (
              SELECT label, list(mx ORDER BY i) AS mo FROM om
              GROUP BY label
            ), nmv AS (
              SELECT label, list(mx ORDER BY i) AS mn FROM nm
              GROUP BY label
            ), oc AS (
              SELECT label, COUNT(*)::BIGINT AS n_old FROM old
              GROUP BY label
            ), nc AS (
              SELECT label, COUNT(*)::BIGINT AS n_new FROM newv
              GROUP BY label
            )
            SELECT label, n_old, n_new,
                   (CASE WHEN (((CASE WHEN (list_cosine_similarity(mo, mn)) < 0 THEN -1 ELSE 1 END) * floor(abs(list_cosine_similarity(mo, mn)) * 1000000.0 + 0.5) / 1000000.0 + 0.0)) < 0
                         THEN -1 ELSE 1 END)
                   * CAST(floor(abs(((CASE WHEN (list_cosine_similarity(mo, mn)) < 0 THEN -1 ELSE 1 END) * floor(abs(list_cosine_similarity(mo, mn)) * 1000000.0 + 0.5) / 1000000.0 + 0.0)) * 1000000.0 + 0.5) AS BIGINT)
                     AS cos_micro
            FROM omv JOIN nmv USING (label) JOIN oc USING (label)
                 JOIN nc USING (label)
        """,
        # reservoir draw: k smallest (md5(doc_id), doc_id) coins
        "reservoir_sample": """
            SELECT ROW_NUMBER() OVER (
                     ORDER BY md5(doc_id::VARCHAR), doc_id)::INT
                     AS sample_rank,
                   doc_id, lang, source
            FROM documents
            ORDER BY md5(doc_id::VARCHAR), doc_id LIMIT 64
        """,
        # bounded availableNow replay == the batch reservoir (min-k
        # union is batch-split insensitive), so the oracle is shared
        "streaming_reservoir": """
            SELECT ROW_NUMBER() OVER (
                     ORDER BY md5(doc_id::VARCHAR), doc_id)::INT
                     AS sample_rank,
                   doc_id, lang, source
            FROM documents
            ORDER BY md5(doc_id::VARCHAR), doc_id LIMIT 64
        """,
        # bernoulli: md5-prefix bucket under 2000/10000 (sampling.py
        # hash_bucket — the repo-wide md5-prefix convention)
        "bernoulli_sample": f"""
            SELECT doc_id, lang, source FROM documents
            WHERE {_H64.format(arg="doc_id::VARCHAR")} % 10000 < 2000
        """,
        # mirrors _q_lang_confusion: the lang_id oracle as a CTE (one
        # prediction definition per engine), then a grouped count
        "lang_confusion": f"""
            WITH pred AS ({_lang_oracle()})
            SELECT d.lang, p.lang_pred, COUNT(*)::BIGINT AS n_docs
            FROM documents d JOIN pred p ON p.doc_id = d.doc_id
            GROUP BY d.lang, p.lang_pred
        """,
        # mirrors _q_dup_spans: passage_dedup's copy-augmented corpus,
        # 8-gram md5 occurrence counts, gaps-and-islands span merge —
        # every quantity int64 (COUNT/SUM all ::BIGINT, no HUGEINT)
        "dup_spans": """
            WITH corpus AS (SELECT doc_id, text FROM documents
                            UNION ALL
                            SELECT doc_id + 1000000, text FROM documents
                            WHERE doc_id < 50),
            wordsx AS (SELECT doc_id, {words} AS w FROM corpus),
            base AS (SELECT doc_id, len(w)::BIGINT AS n_words,
                            greatest(len(w) - 7, 0)::BIGINT AS n_ngrams, w
                     FROM wordsx),
            grams AS (SELECT doc_id, i AS pos,
                             md5(array_to_string(
                                 list_slice(w, i + 1, i + 8), ' ')) AS gh
                      FROM base, unnest(range(len(w) - 7)) AS t(i)
                      WHERE len(w) >= 8),
            occ AS (SELECT gh FROM grams GROUP BY gh HAVING COUNT(*) > 1),
            dup AS (SELECT doc_id, pos FROM grams JOIN occ USING (gh)),
            sp AS (SELECT doc_id, pos,
                          COALESCE(MAX(pos + 7) OVER (
                              PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), -1) AS prev_end
                   FROM dup),
            per AS (SELECT doc_id, COUNT(*)::BIGINT AS n_dup_ngrams,
                           SUM(CASE WHEN pos > prev_end
                                    THEN 1 ELSE 0 END)::BIGINT AS n_spans,
                           SUM(GREATEST(0, pos + 7 - GREATEST(pos - 1,
                               prev_end)))::BIGINT AS dup_words
                    FROM sp GROUP BY doc_id)
            SELECT b.doc_id, b.n_words, b.n_ngrams,
                   COALESCE(p.n_dup_ngrams, 0)::BIGINT AS n_dup_ngrams,
                   COALESCE(p.n_spans, 0)::BIGINT AS n_spans,
                   COALESCE(p.dup_words, 0)::BIGINT AS dup_words,
                   COALESCE(p.dup_words, 0) * 2 <= b.n_words AS keep
            FROM base b LEFT JOIN per p USING (doc_id)
        """.format(words=_WORDS),
        # mirrors _q_jaccard_prefix: perturbed-copy corpus, distinct
        # 3-gram shingle sets, (df, shingle)-ordered prefixes of length
        # sz - ceil(sz/2) + 1, exact intersection, integer threshold
        "jaccard_prefix": """
            WITH corpus AS ({corpus}),
            wordsx AS (SELECT doc_id, {words} AS w FROM corpus),
            sh AS (SELECT DISTINCT doc_id,
                          array_to_string(list_slice(w, i + 1, i + 3),
                                          ' ') AS tok
                   FROM wordsx, unnest(range(len(w) - 2)) AS t(i)
                   WHERE len(w) >= 3),
            sz AS (SELECT doc_id, COUNT(*)::BIGINT AS sz
                   FROM sh GROUP BY doc_id),
            dft AS (SELECT tok, COUNT(*)::BIGINT AS dft FROM sh
                    GROUP BY tok HAVING COUNT(*) <= 1000),
            ranked AS (SELECT s.doc_id, s.tok, z.sz,
                              ROW_NUMBER() OVER (PARTITION BY s.doc_id
                                  ORDER BY d.dft, s.tok) AS r
                       FROM sh s JOIN dft d USING (tok)
                                 JOIN sz z USING (doc_id)),
            prefix AS (SELECT doc_id, tok FROM ranked
                       WHERE r <= sz - ((sz + 1) // 2) + 1),
            cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                     FROM prefix a JOIN prefix b USING (tok)
                     WHERE a.doc_id < b.doc_id),
            intr AS (SELECT c.id_a, c.id_b, COUNT(*)::BIGINT AS inter
                     FROM cand c
                     JOIN sh sa ON sa.doc_id = c.id_a
                     JOIN sh sb ON sb.doc_id = c.id_b
                                AND sb.tok = sa.tok
                     GROUP BY c.id_a, c.id_b)
            SELECT i.id_a, i.id_b, i.inter,
                   za.sz AS size_a, zb.sz AS size_b,
                   (za.sz + zb.sz - i.inter)::BIGINT AS union_sz
            FROM intr i
            JOIN sz za ON za.doc_id = i.id_a
            JOIN sz zb ON zb.doc_id = i.id_b
            WHERE i.inter * 2 >= za.sz + zb.sz - i.inter
        """.format(corpus=_CORPUS.format(where=""), words=_WORDS),
        # mirrors _q_alpha_resample: sqrt is IEEE-exact, everything
        # after is integer math, coin = md5('as1|'||doc_id) % 1e6
        "alpha_resample": """
            WITH c AS (
              SELECT lang, COUNT(*)::BIGINT AS n,
                     CAST(floor(sqrt(COUNT(*)::DOUBLE) * 1000000.0 + 0.5)
                          AS BIGINT) AS s
              FROM documents GROUP BY lang
            ), t AS (
              SELECT SUM(s)::BIGINT AS st, SUM(n)::BIGINT AS nt FROM c
            ), f AS (
              SELECT lang, (s * nt * 1000000) // (st * n) AS r_micro
              FROM c, t
            ), d AS (
              SELECT doc_id, d0.lang, r_micro,
                     (r_micro // 1000000
                      + CASE WHEN ('0x' || substr(md5('as1|' ||
                              CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                              % 1000000 < r_micro % 1000000
                             THEN 1 ELSE 0 END)::INT AS nc
              FROM documents d0 JOIN f ON f.lang = d0.lang
            )
            SELECT doc_id, lang, i::INT AS copy_id
            FROM d, unnest(range(1, nc + 1)) AS u(i)
            WHERE nc > 0
        """,
        # mirrors _q_corpus_diff: same h64 content hash, same edit sim
        "corpus_diff": f"""
            WITH old AS (
              SELECT doc_id,
                     {_H64.format(arg="text")} AS ho
              FROM documents WHERE doc_id % 11 <> 0
            ), new AS (
              SELECT doc_id,
                     {_H64.format(arg=
                       "CASE WHEN doc_id % 7 = 0 THEN text || ' [v2]' "
                       "ELSE text END")} AS hn
              FROM documents WHERE doc_id % 13 <> 0
            )
            SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
                   CASE WHEN o.doc_id IS NULL THEN 'added'
                        WHEN n.doc_id IS NULL THEN 'removed'
                        WHEN ho = hn THEN 'unchanged'
                        ELSE 'changed' END AS status
            FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
        """,
        "bpe_encode": _bpe_encode_oracle(8, 200),
        "tfidf_top_terms": _tfidf_oracle(),
        "passage_dedup": _passage_dedup_oracle(),
        "bm25_search": _bm25_oracle(),
        # mirrors _q_domain_mix: same md5 bucket, same CASE thresholds
        "domain_mix": f"""
            SELECT doc_id, lang FROM (
              SELECT doc_id, lang,
                     {_H64.format(arg="CAST(doc_id AS VARCHAR)")} % 10000
                         AS b
              FROM documents)
            WHERE b < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 10000
                                WHEN 'es' THEN 2500 WHEN 'fr' THEN 1000
                                ELSE 0 END
        """,
        # mirrors _q_decontaminate incl. the corpus-side hot-shingle df
        # cap (> 1000 dropped, dedup._cap_buckets semantics)
        "decontaminate": """
            WITH corpus AS (SELECT doc_id, text FROM documents
                            WHERE doc_id % 97 <> 0),
            bench AS (SELECT doc_id, text FROM documents
                      WHERE doc_id % 97 = 0),
            csh0 AS (SELECT DISTINCT doc_id AS corpus_id, s FROM (
                       SELECT doc_id,
                              unnest(list_transform(range(len(w) - 2),
                                i -> array_to_string(
                                       list_slice(w, i + 1, i + 3), ' ')))
                                  AS s
                       FROM (SELECT doc_id,
                                    string_split_regex(trim(text), '\\s+')
                                        AS w FROM corpus))),
            hot AS (SELECT s FROM csh0 GROUP BY s HAVING COUNT(*) > 1000),
            csh AS (SELECT * FROM csh0
                    WHERE s NOT IN (SELECT s FROM hot)),
            bsh AS (SELECT DISTINCT doc_id AS bench_id, s FROM (
                       SELECT doc_id,
                              unnest(list_transform(range(len(w) - 2),
                                i -> array_to_string(
                                       list_slice(w, i + 1, i + 3), ' ')))
                                  AS s
                       FROM (SELECT doc_id,
                                    string_split_regex(trim(text), '\\s+')
                                        AS w FROM bench)))
            SELECT corpus_id, bench_id, COUNT(*) AS n_shared
            FROM csh JOIN bsh USING (s)
            GROUP BY 1, 2 HAVING COUNT(*) >= 2
        """,
        "dataset_stats": f"""
            SELECT source,
                   COUNT(*) AS n_docs,
                   SUM(n_chars)::BIGINT AS total_chars,
                   MIN(n_chars) AS min_chars,
                   MAX(n_chars) AS max_chars,
                   quantile_cont(n_chars, 0.5) AS med_chars,
                   AVG(n_chars) AS avg_chars,
                   SUM(n_tokens)::BIGINT AS total_tokens,
                   COUNT(DISTINCT lang) AS n_langs
            FROM (SELECT source, lang, n_chars,
                         len({_WORDS})::BIGINT AS n_tokens
                  FROM documents)
            GROUP BY source
        """,
        "interval_overlap": """
            WITH iv AS (
              SELECT l_partkey, l_orderkey*8 + l_linenumber AS id,
                     epoch(l_shipdate)::BIGINT // 86400 AS lo,
                     epoch(l_shipdate)::BIGINT // 86400 + l_linenumber
                         AS hi
              FROM lineitem)
            SELECT a.l_partkey, a.id AS a_id, b.id AS b_id,
                   (LEAST(a.hi, b.hi) - GREATEST(a.lo, b.lo))
                       AS overlap_days
            FROM iv a JOIN iv b
              ON a.l_partkey = b.l_partkey AND a.id < b.id
             AND a.lo <= b.hi AND b.lo <= a.hi
        """,
        "asof_join": """
            WITH e AS (SELECT event_id, user_id, day(ts)::BIGINT AS ed
                       FROM events),
            o2 AS (SELECT o_custkey % 150 AS user_id,
                          day(o_orderdate)::BIGINT AS od,
                          MAX(o_orderkey) AS asof_orderkey
                   FROM orders GROUP BY 1, 2)
            SELECT e.event_id, e.user_id, e.ed, o2.asof_orderkey
            FROM e ASOF LEFT JOIN o2
              ON e.user_id = o2.user_id AND e.ed >= o2.od
        """,
        # forward = backward on the negated axis (DuckDB's native ASOF
        # only matches >=): -ed >= -od  <=>  od >= ed, nearest first
        "asof_forward": """
            WITH e AS (SELECT event_id, user_id, day(ts)::BIGINT AS ed,
                              -day(ts)::BIGINT AS ned
                       FROM events),
            o2 AS (SELECT o_custkey % 150 AS user_id,
                          -day(o_orderdate)::BIGINT AS nod,
                          MAX(o_orderkey) AS next_orderkey
                   FROM orders GROUP BY 1, 2)
            SELECT e.event_id, e.user_id, e.ed, o2.next_orderkey
            FROM e ASOF LEFT JOIN o2
              ON e.user_id = o2.user_id AND e.ned >= o2.nod
        """,
        # segment (k,k+1)->(k+4,k+5) meets [100,140]^2 iff x in
        # [100,139] ∩ [k,k+4] nonempty -> 96 <= k <= 139; NULL geoms
        # (o_orderkey%7=0) excluded by the bbox filter
        "geo_parquet_window": """
            SELECT o_orderkey, o_orderkey % 1000 AS k
            FROM orders
            WHERE o_orderkey % 7 <> 0
              AND o_orderkey % 1000 BETWEEN 96 AND 139
        """,
        # mirrors _q_geojsonl_roundtrip: the sink/source must be an exact
        # identity on the lines_orders fixture (fixtures.py generator)
        "geojsonl_roundtrip": f"""
            SELECT o_orderkey, k,
                   CASE WHEN o_orderkey % 7 = 0 THEN NULL
                        ELSE {_lines_wkt_sql()} END AS wkt_out
            FROM (SELECT o_orderkey, o_orderkey % 1000 AS k FROM orders)
        """,
        # mirrors _q_hll_by_group: the hll_estimate chain (same hash,
        # same literals, same 6-dp round) carried per event_type
        # one-pass global bottom-k replay of the sketch's partition-
        # local merge (equal by construction: every global bottom-k row
        # wins its own partition); KMV ndv via the shared _ratio6 form
        "kmv_quantiles": """
            WITH ev AS (
              SELECT event_type, event_id, user_id, value
              FROM events WHERE value IS NOT NULL
            ), ranked AS (
              SELECT event_type, value,
                     row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY ('0x' || substr(md5(
                         CAST(event_id AS VARCHAR)), 1, 8))::BIGINT,
                         value) AS rn,
                     count(*) OVER (PARTITION BY event_type) AS n_all
              FROM ev
            ), sagg AS (
              SELECT event_type, MAX(n_all)::BIGINT AS n_events,
                     count(*)::INT AS n_sample,
                     list(value ORDER BY value) AS vals
              FROM ranked WHERE rn <= 64 GROUP BY event_type
            ), u AS (
              SELECT DISTINCT event_type,
                     ('0x' || substr(md5(
                       CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS hv
              FROM ev
            ), uranked AS (
              SELECT event_type, hv, row_number() OVER (
                       PARTITION BY event_type ORDER BY hv) AS rn
              FROM u
            ), uagg AS (
              SELECT event_type, count(*)::INT AS m,
                     MAX(CASE WHEN rn = 64 THEN hv END) AS hk
              FROM uranked WHERE rn <= 64 GROUP BY event_type
            )
            SELECT s.event_type, s.n_events, s.n_sample,
                   vals[greatest(1, ceil(0.5 * n_sample))::INT] AS p50,
                   vals[greatest(1, ceil(0.9 * n_sample))::INT] AS p90,
                   vals[greatest(1, ceil(0.99 * n_sample))::INT] AS p99,
                   CASE WHEN u.m < 64 THEN u.m::DOUBLE
                        ELSE ((2000000 * (63 * 4294967296) + hk)
                              // (2 * hk)) / 1000000.0
                   END AS ndv_users
            FROM sagg s JOIN uagg u USING (event_type)
        """,
        "hll_by_group": """
            WITH h AS (
              SELECT event_type,
                     ('0x' || substr(md5(
                       'hll0|' || CAST(user_id AS VARCHAR)), 1, 8))
                       ::BIGINT AS hv
              FROM events
              WHERE user_id IS NOT NULL AND event_type IS NOT NULL
            ), r AS (
              SELECT event_type, hv % 256 AS register, hv // 256 AS v
              FROM h
            ), regs AS (
              SELECT event_type, register,
                     MAX(CASE WHEN v > 0 THEN 25 - length(bin(v))
                              ELSE 25 END) AS rho
              FROM r GROUP BY event_type, register
            ), agg AS (
              SELECT event_type, COUNT(*)::BIGINT AS n_registers,
                     SUM(CAST(pow(2.0, 25 - rho) AS BIGINT))::BIGINT
                       AS z_scaled
              FROM regs GROUP BY event_type
            ), est AS (
              SELECT event_type, n_registers, z_scaled,
                     CASE WHEN (47072.71267120224::DOUBLE * 33554432.0::DOUBLE
                                / CAST(z_scaled
                                       + (256 - n_registers) * 33554432
                                       AS DOUBLE)) <= 640.0
                               AND (256 - n_registers) > 0
                          THEN 256.0 * ln(256.0 /
                                 CAST(256 - n_registers AS DOUBLE))
                          ELSE (47072.71267120224::DOUBLE * 33554432.0::DOUBLE
                                / CAST(z_scaled
                                       + (256 - n_registers) * 33554432
                                       AS DOUBLE)) END AS e
              FROM agg
            )
            SELECT event_type, n_registers, z_scaled,
                   (CASE WHEN e < 0 THEN -1 ELSE 1 END)
                     * floor(abs(e) * 1000000.0 + 0.5) / 1000000.0 + 0.0
                     AS est
            FROM est
        """,
        # mirrors _q_auc_eval: histogram rank-sum AUC — every count and
        # 2x-scaled rank exact int64 (::BIGINT on every SUM), final
        # ratio = 6-dp half-up of a double divide of exact ints
        "auc_eval": """
            WITH s AS (
              SELECT floor(CAST(embedding[1] AS DOUBLE) * 20)::BIGINT
                       AS score,
                     CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
              FROM embeddings
            ), hist AS (
              SELECT score, COUNT(*)::BIGINT AS n, SUM(y)::BIGINT AS npos
              FROM s GROUP BY score
            ), cum AS (
              SELECT score, n, npos,
                     COALESCE(SUM(n) OVER (ORDER BY score
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0)::BIGINT AS c_before
              FROM hist
            ), agg AS (
              SELECT SUM(npos)::BIGINT AS p_total,
                     SUM(n - npos)::BIGINT AS n_total,
                     SUM(npos * (2 * c_before + n + 1))::BIGINT
                       AS rank2_pos
              FROM cum
            ), v AS (
              SELECT p_total, n_total, rank2_pos,
                     CAST(rank2_pos - p_total * (p_total + 1) AS DOUBLE)
                       / CAST(2 * p_total * n_total AS DOUBLE) AS e
              FROM agg
            )
            SELECT p_total, n_total, rank2_pos,
                   (CASE WHEN e < 0 THEN -1 WHEN e > 0 THEN 1 ELSE 0 END)
                     * floor(abs(e) * 1000000.0 + 0.5) / 1000000.0 + 0.0
                     AS auc
            FROM v
        """,
        # mirrors _q_ks_drift: cross-multiplied integer CDF gap, max'd
        "ks_drift": """
            WITH s AS (
              SELECT event_type, floor(value * 10)::BIGINT AS vq
              FROM events
              WHERE value IS NOT NULL
                AND event_type IN ('click', 'error')
            ), hist AS (
              SELECT vq,
                     SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                         END)::BIGINT AS na_i,
                     SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0
                         END)::BIGINT AS nb_i
              FROM s GROUP BY vq
            ), cum AS (
              SELECT vq, na_i, nb_i,
                     SUM(na_i) OVER (ORDER BY vq
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       ::BIGINT AS ca,
                     SUM(nb_i) OVER (ORDER BY vq
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       ::BIGINT AS cb
              FROM hist
            ), tot AS (
              SELECT SUM(na_i)::BIGINT AS n_a, SUM(nb_i)::BIGINT AS n_b
              FROM hist
            ), agg AS (
              SELECT MAX(t.n_a)::BIGINT AS n_a, MAX(t.n_b)::BIGINT AS n_b,
                     MAX(abs(c.ca * t.n_b - c.cb * t.n_a))::BIGINT AS d_num
              FROM cum c, tot t
            )
            SELECT n_a, n_b, d_num,
                   floor(CAST(d_num AS DOUBLE)
                         / CAST(n_a * n_b AS DOUBLE) * 1000000.0 + 0.5)
                     / 1000000.0 + 0.0 AS ks
            FROM agg
        """,
        # mirrors _q_table_profile: melt + one grouped aggregate; string
        # min/max are binary-collation lexicographic in both engines
        "table_profile": """
            WITH m AS (
              SELECT 'doc_id' AS col_name, CAST(doc_id AS VARCHAR) AS val
              FROM documents
              UNION ALL SELECT 'text', text FROM documents
              UNION ALL SELECT 'lang', lang FROM documents
              UNION ALL SELECT 'source', source FROM documents
              UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR)
              FROM documents
            )
            SELECT col_name, COUNT(*)::BIGINT AS n_rows,
                   SUM(CASE WHEN val IS NULL THEN 1 ELSE 0 END)::BIGINT
                     AS n_null,
                   COUNT(DISTINCT md5(val))::BIGINT AS n_distinct,
                   MIN(val) AS min_val, MAX(val) AS max_val,
                   COALESCE(SUM(length(val)), 0)::BIGINT AS sum_len
            FROM m GROUP BY col_name
        """,
        # mirrors _q_normalize_text: identical augmentation via chr()
        # codes (U+0301 = 769, U+0308 = 776, tab = 9), identical op
        # order (NFC -> lower -> ASCII-ws collapse -> trim). The ws
        # class is explicit [ \t\r\n] on BOTH sides: RE2's \s is
        # ASCII-only while Python's is Unicode-wide.
        "normalize_text": """
            WITH aug AS (
              SELECT doc_id,
                     substr(text, 1, 40) || ' Cafe' || chr(769)
                       || '  ZU' || chr(776) || 'GE' || chr(9) || 'x '
                       AS t2
              FROM documents
            ), n AS (
              SELECT doc_id, t2,
                     trim(regexp_replace(lower(nfc_normalize(t2)),
                          '[ \t\r\n]+', ' ', 'g')) AS norm_text
              FROM aug
            )
            SELECT doc_id, norm_text,
                   length(t2)::BIGINT AS n_before,
                   length(norm_text)::BIGINT AS n_after,
                   (CASE WHEN norm_text <> t2 THEN 1 ELSE 0 END)::INT
                     AS changed
            FROM n
        """,
        # mirrors _q_csv_roundtrip: the oracle rebuilds the augmented
        # rows from parquet with chr() codes (44 ',', 34 '"', 10 LF,
        # 13 CR) and never reads the CSV — equality proves the Spark
        # CSV write+read is the identity on the hostile classes
        "csv_roundtrip": """
            SELECT doc_id,
                   substr(text, 1, 30) || chr(44) || chr(34) || 'x'
                     || chr(10) || 'y' || chr(34) || chr(34)
                     || 'z end ' AS text2,
                   lang, n_chars
            FROM documents
            WHERE text IS NOT NULL
        """,
        # mirrors _q_jsonl_roundtrip: the same augmentation straight
        # from parquet; NULL text stays (|| null-propagates like concat)
        "jsonl_roundtrip": """
            SELECT doc_id,
                   CASE WHEN doc_id % 7 <> 0 THEN
                     substr(text, 1, 30) || ' ' || chr(34) || 'q'
                       || chr(10) || chr(9) || 'z' || chr(92)
                       || ' end'
                   END AS text2,
                   lang, n_chars
            FROM documents
        """,
        # mirrors _q_orc_roundtrip: identity on embeddings + the same
        # order-independent micro-int vector checksum
        "orc_roundtrip": """
            SELECT vec_id, label,
                   len(embedding)::INT AS dim,
                   list_sum(list_transform(embedding,
                       x -> floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                              ::BIGINT))::BIGINT AS vec_micro_sum
            FROM embeddings
        """,
        # mirrors _q_scd2_history: same change-collapse + lead intervals
        "scd2_history": """
            WITH ev AS (
              SELECT user_id, epoch_us(ts)::BIGINT AS ts_us, event_id,
                     event_type
              FROM events WHERE ts IS NOT NULL
            ), marked AS (
              SELECT user_id, ts_us, event_id, event_type,
                     (LAG(event_type) OVER w IS NULL
                      OR LAG(event_type) OVER w <> event_type) AS chg
              FROM ev
              WINDOW w AS (PARTITION BY user_id
                           ORDER BY ts_us, event_id)
            ), surv AS (SELECT * FROM marked WHERE chg)
            SELECT user_id, event_type,
                   ts_us AS valid_from,
                   LEAD(ts_us) OVER w2 AS valid_to,
                   ROW_NUMBER() OVER w2::BIGINT AS version,
                   (CASE WHEN LEAD(ts_us) OVER w2 IS NULL
                         THEN 1 ELSE 0 END)::INT AS is_current
            FROM surv
            WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        """,
        # mirrors _q_skew_audit: histogram-of-sizes identities, all int64
        "skew_audit": """
            WITH sizes AS (
              SELECT user_id, COUNT(*)::BIGINT AS sz
              FROM events WHERE user_id IS NOT NULL GROUP BY user_id
            ), hist AS (
              SELECT sz, COUNT(*)::BIGINT AS f FROM sizes GROUP BY sz
            ), cum AS (
              SELECT sz, f,
                     COALESCE(SUM(f) OVER (ORDER BY sz
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0)::BIGINT AS c_before,
                     SUM(f) OVER (ORDER BY sz
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       ::BIGINT AS c_incl
              FROM hist
            ), agg AS (
              SELECT SUM(f)::BIGINT AS n_keys,
                     SUM(sz * f)::BIGINT AS n_rows,
                     MAX(sz)::BIGINT AS max_size,
                     SUM(2 * sz * f * c_before
                         + sz * f * (f + 1))::BIGINT AS r2
              FROM cum
            ), p AS (
              SELECT MIN(CASE WHEN 100 * c.c_incl >= 99 * a.n_keys
                              THEN c.sz END)::BIGINT AS p99_size
              FROM cum c, agg a
            )
            SELECT a.n_keys, a.n_rows, a.max_size, p.p99_size, a.r2,
                   floor(abs(CAST(a.r2 - (a.n_keys + 1) * a.n_rows
                                  AS DOUBLE)
                             / CAST(a.n_keys * a.n_rows AS DOUBLE))
                         * 1000000.0 + 0.5) / 1000000.0 + 0.0 AS gini
            FROM agg a, p
        """,
        # mirrors _q_join_size_estimate: same md5 cells, same min-dot
        "join_size_estimate": """
            WITH a AS (
              SELECT CAST(user_id AS VARCHAR) AS key FROM events
              WHERE event_type = 'click' AND user_id IS NOT NULL
            ), b AS (
              SELECT CAST(user_id AS VARCHAR) AS key FROM events
              WHERE event_type = 'view' AND user_id IS NOT NULL
            ), ca AS (
              SELECT s.i AS row,
                     ('0x' || substr(md5('cm' || s.i || '|' || key),
                                     1, 8))::BIGINT % 1024 AS cell,
                     COUNT(*)::BIGINT AS ca
              FROM a, unnest([0, 1, 2, 3]) AS s(i) GROUP BY 1, 2
            ), cb AS (
              SELECT s.i AS row,
                     ('0x' || substr(md5('cm' || s.i || '|' || key),
                                     1, 8))::BIGINT % 1024 AS cell,
                     COUNT(*)::BIGINT AS cb
              FROM b, unnest([0, 1, 2, 3]) AS s(i) GROUP BY 1, 2
            ), dots AS (
              SELECT ca.row, SUM(ca.ca * cb.cb)::BIGINT AS dot
              FROM ca JOIN cb ON ca.row = cb.row AND ca.cell = cb.cell
              GROUP BY ca.row
            ), est AS (SELECT MIN(dot)::BIGINT AS est_size FROM dots),
            ta AS (SELECT key, COUNT(*)::BIGINT AS na FROM a GROUP BY key),
            tb AS (SELECT key, COUNT(*)::BIGINT AS nb FROM b GROUP BY key),
            tru AS (
              SELECT COALESCE(SUM(ta.na * tb.nb), 0)::BIGINT AS true_size
              FROM ta JOIN tb ON ta.key = tb.key
            )
            SELECT t.true_size, e.est_size,
                   floor(abs(CAST(e.est_size AS DOUBLE)
                             / CAST(t.true_size AS DOUBLE))
                         * 1000000.0 + 0.5) / 1000000.0 + 0.0
                     AS over_ratio
            FROM tru t, est e
        """,
        # mirrors _q_streaming_cms: bounded replay == batch cell table
        "streaming_cms": """
            WITH t AS (
              SELECT CAST(user_id AS VARCHAR) AS tok
              FROM events WHERE user_id IS NOT NULL
            ), u AS (
              SELECT s.i,
                     ('0x' || substr(md5('cm' || s.i || '|' || tok),
                                     1, 8))::BIGINT % 1024 AS cell
              FROM t, unnest([0, 1, 2, 3]) AS s(i)
            )
            SELECT i::INT AS row, cell, COUNT(*)::BIGINT AS cnt
            FROM u GROUP BY i, cell
        """,
        # mirrors _q_calibration_bins: exact scaled-int 6-dp ratio
        "calibration_bins": """
            WITH e AS (
              SELECT floor(CAST(embedding[1] AS DOUBLE) * 10)::BIGINT
                       AS bin,
                     CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
              FROM embeddings
            ), agg AS (
              SELECT bin, COUNT(*)::BIGINT AS n, SUM(y)::BIGINT AS n_pos
              FROM e GROUP BY bin
            )
            SELECT bin, n, n_pos,
                   ((2000000 * n_pos + n) // (2 * n)) / 1000000.0
                     AS pos_rate
            FROM agg
        """,
        # mirrors _q_asof_nearest: backward + negated-axis forward ASOF,
        # identical pick rule (ties -> backward)
        "asof_nearest": """
            WITH e AS (SELECT event_id, user_id, day(ts)::BIGINT AS ed,
                              -day(ts)::BIGINT AS ned
                       FROM events),
            o2 AS (SELECT o_custkey % 150 AS user_id,
                          day(o_orderdate)::BIGINT AS od,
                          -day(o_orderdate)::BIGINT AS nod,
                          MAX(o_orderkey) AS near_orderkey
                   FROM orders GROUP BY 1, 2, 3),
            b AS (SELECT e.event_id, o2.od AS od_b,
                         o2.near_orderkey AS k_b
                  FROM e ASOF LEFT JOIN o2
                    ON e.user_id = o2.user_id AND e.ed >= o2.od),
            f AS (SELECT e.event_id, o2.od AS od_f,
                         o2.near_orderkey AS k_f
                  FROM e ASOF LEFT JOIN o2
                    ON e.user_id = o2.user_id AND e.ned >= o2.nod)
            SELECT e.event_id, e.user_id, e.ed,
                   CASE WHEN b.od_b IS NOT NULL AND (f.od_f IS NULL OR
                             (e.ed - b.od_b) <= (f.od_f - e.ed))
                        THEN b.k_b ELSE f.k_f END AS near_orderkey,
                   CASE WHEN b.od_b IS NOT NULL AND (f.od_f IS NULL OR
                             (e.ed - b.od_b) <= (f.od_f - e.ed))
                        THEN b.od_b ELSE f.od_f END AS od_asof
            FROM e
            JOIN b ON b.event_id = e.event_id
            JOIN f ON f.event_id = e.event_id
        """,
        # mirrors _q_rolling_user_sum: same RANGE frame over epoch secs
        "rolling_user_sum": """
            WITH ev AS (
              SELECT event_id, user_id,
                     (epoch_us(ts) // 1000000)::BIGINT AS sec,
                     CAST(ROUND(value * 100) AS BIGINT) AS cents
              FROM events
              WHERE ts IS NOT NULL AND value IS NOT NULL
            )
            SELECT event_id, user_id, sec, cents,
                   SUM(cents) OVER (PARTITION BY user_id ORDER BY sec
                     RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
                     ::BIGINT AS roll_cents
            FROM ev
        """,
        # mirrors _q_top_words_by_source: same counts, same rank window
        "top_words_by_source": """
            WITH toks AS (
              SELECT source, w
              FROM (SELECT source,
                           unnest(string_split_regex(trim(text), '\\s+'))
                             AS w
                    FROM documents)
              WHERE w <> ''
            ), cnts AS (
              SELECT source, w, COUNT(*)::BIGINT AS cnt
              FROM toks GROUP BY source, w
            ), ranked AS (
              SELECT source, w, cnt,
                     ROW_NUMBER() OVER (PARTITION BY source
                       ORDER BY cnt DESC, w ASC)::INT AS rank
              FROM cnts
            )
            SELECT source, rank, w, cnt FROM ranked WHERE rank <= 3
        """,
        # mirrors _q_quantiles_by_type: grouped integer rank test
        "quantiles_by_type": """
            WITH q AS (
              SELECT event_type, floor(value * 100)::BIGINT AS vq
              FROM events WHERE value IS NOT NULL
            ), hist AS (
              SELECT event_type, vq, COUNT(*)::BIGINT AS cnt
              FROM q GROUP BY event_type, vq
            ), cum AS (
              SELECT event_type, vq, cnt,
                     SUM(cnt) OVER (PARTITION BY event_type ORDER BY vq
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       ::BIGINT AS cum,
                     SUM(cnt) OVER (PARTITION BY event_type)
                       ::BIGINT AS n_total
              FROM hist
            )
            SELECT event_type, MAX(n_total)::BIGINT AS n_total,
                   MIN(CASE WHEN 100 * cum >= 50 * n_total
                            THEN vq END)::BIGINT AS p50,
                   MIN(CASE WHEN 100 * cum >= 90 * n_total
                            THEN vq END)::BIGINT AS p90,
                   MIN(CASE WHEN 100 * cum >= 99 * n_total
                            THEN vq END)::BIGINT AS p99
            FROM cum GROUP BY event_type
        """,
        # mirrors _q_dup_cluster_hist: same triple-union corpus, same
        # two-level aggregate
        "dup_cluster_hist": """
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents
              UNION ALL
              SELECT doc_id + 2000000, text FROM documents
              WHERE doc_id < 50
            ), clusters AS (
              SELECT md5(text) AS text_md5, COUNT(*)::BIGINT AS n_copies
              FROM corpus GROUP BY md5(text)
            )
            SELECT n_copies, COUNT(*)::BIGINT AS n_clusters,
                   SUM(n_copies)::BIGINT AS n_docs
            FROM clusters GROUP BY n_copies
        """,
        # mirrors _q_events_pivot: conditional aggregation == the
        # explicit-value-list pivot; hour-of-day is epoch arithmetic
        "events_pivot": """
            SELECT (epoch_us(ts) // 3600000000) % 24 AS hr,
                   SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                       END)::BIGINT AS click,
                   SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0
                       END)::BIGINT AS error,
                   SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                       END)::BIGINT AS purchase,
                   SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0
                       END)::BIGINT AS signup,
                   SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0
                       END)::BIGINT AS view
            FROM events WHERE ts IS NOT NULL
            GROUP BY 1
        """,
        # mirrors _q_auc_by_group: text_stats quality micro-int as the
        # score, gopher keep as the label, the auc_exact identities
        # PARTITIONED BY lang; degenerate groups -> NULL auc
        "auc_by_group": f"""
            WITH base AS (
              SELECT doc_id, lang, text,
                     string_split_regex(trim(text), '\\s+') AS w
              FROM documents
            ), feat AS (
              SELECT doc_id, lang, len(w)::BIGINT AS n,
                     length(regexp_replace(text, '\\s+', '', 'g'))::BIGINT
                       AS nchars,
                     len(list_filter(w, x -> x IN ({_stop_list()})))::BIGINT
                       AS stops,
                     len(list_distinct(w))::BIGINT AS dst,
                     len(list_filter(w,
                         x -> regexp_matches(x, '[A-Za-z]')))::BIGINT
                       AS alpha,
                     len(list_distinct(list_filter(w,
                         x -> x IN ({_stop_list()}))))::BIGINT AS dstops
              FROM base
            ), scored AS (
              SELECT lang,
                     ((2*(4000*LEAST(100, n)*n
                          + 300000*(n - stops + dst)) + n)
                      // (2*n))::BIGINT AS score,
                     CASE WHEN n BETWEEN 50 AND 100000
                               AND ((2000000*nchars + n) // (2*n))
                                     / 1000000.0 >= 3.0
                               AND ((2000000*nchars + n) // (2*n))
                                     / 1000000.0 <= 10.0
                               AND ((2000000*alpha + n) // (2*n))
                                     / 1000000.0 >= 0.8
                               AND dstops >= 2
                          THEN 1 ELSE 0 END AS y
              FROM feat
            ), hist AS (
              SELECT lang, score, COUNT(*)::BIGINT AS n,
                     SUM(y)::BIGINT AS npos
              FROM scored GROUP BY lang, score
            ), cum AS (
              SELECT lang, score, n, npos,
                     COALESCE(SUM(n) OVER (PARTITION BY lang ORDER BY score
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0)::BIGINT AS c_before
              FROM hist
            ), agg AS (
              SELECT lang, SUM(npos)::BIGINT AS p_total,
                     SUM(n - npos)::BIGINT AS n_total,
                     SUM(npos * (2 * c_before + n + 1))::BIGINT
                       AS rank2_pos
              FROM cum GROUP BY lang
            ), v AS (
              SELECT lang, p_total, n_total, rank2_pos,
                     CASE WHEN p_total > 0 AND n_total > 0 THEN
                       CAST(rank2_pos - p_total * (p_total + 1) AS DOUBLE)
                         / CAST(2 * p_total * n_total AS DOUBLE) END AS e
              FROM agg
            )
            SELECT lang, p_total, n_total, rank2_pos,
                   CASE WHEN e IS NULL THEN NULL ELSE
                     (CASE WHEN e < 0 THEN -1 WHEN e > 0 THEN 1 ELSE 0 END)
                       * floor(abs(e) * 1000000.0 + 0.5) / 1000000.0 + 0.0
                   END AS auc
            FROM v
        """,
        # mirrors _q_value_hist_quantiles: integer rank test, no float
        "value_hist_quantiles": """
            WITH q AS (
              SELECT floor(value * 100)::BIGINT AS vq
              FROM events WHERE value IS NOT NULL
            ), hist AS (
              SELECT vq, COUNT(*)::BIGINT AS cnt FROM q GROUP BY vq
            ), cum AS (
              SELECT vq, SUM(cnt) OVER (ORDER BY vq
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                ::BIGINT AS cum
              FROM hist
            ), tot AS (SELECT SUM(cnt)::BIGINT AS n_total FROM hist)
            SELECT MAX(t.n_total)::BIGINT AS n_total,
                   MIN(CASE WHEN 100 * c.cum >= 50 * t.n_total
                            THEN c.vq END)::BIGINT AS p50,
                   MIN(CASE WHEN 100 * c.cum >= 90 * t.n_total
                            THEN c.vq END)::BIGINT AS p90,
                   MIN(CASE WHEN 100 * c.cum >= 99 * t.n_total
                            THEN c.vq END)::BIGINT AS p99
            FROM cum c, tot t
        """,
        # mirrors _q_domain_entropy: per-term micro-int cnt*ln(cnt)
        # before the sum (order-independent), identical final chain
        "domain_entropy": """
            WITH toks AS (
              SELECT source AS domain, w
              FROM (SELECT source,
                           unnest(string_split_regex(trim(text), '\\s+'))
                             AS w
                    FROM documents)
              WHERE w <> ''
            ), cnts AS (
              SELECT domain, w, COUNT(*)::BIGINT AS cnt
              FROM toks GROUP BY domain, w
            ), agg AS (
              SELECT domain, SUM(cnt)::BIGINT AS n_tokens,
                     COUNT(*)::BIGINT AS vocab,
                     SUM(floor(CAST(cnt AS DOUBLE)
                               * ln(CAST(cnt AS DOUBLE))
                               * 1000000.0 + 0.5)::BIGINT)::BIGINT
                       AS s_micro
              FROM cnts GROUP BY domain
            ), v AS (
              SELECT domain, n_tokens, vocab, s_micro,
                     ln(CAST(n_tokens AS DOUBLE))
                       - (CAST(s_micro AS DOUBLE) / 1000000.0)
                         / CAST(n_tokens AS DOUBLE) AS e
              FROM agg
            )
            SELECT domain, n_tokens, vocab, s_micro,
                   (CASE WHEN e < 0 THEN -1 WHEN e > 0 THEN 1 ELSE 0 END)
                     * floor(abs(e) * 1000000.0 + 0.5) / 1000000.0 + 0.0
                     AS entropy
            FROM v
        """,
        # mirrors _q_feature_corr: same micro-int quantization, same
        # exact int64 moments, same double-cast-before-product chain
        "feature_corr": """
            WITH q AS (
              SELECT floor(CAST(embedding[1] AS DOUBLE) * 1000000.0
                           + 0.5)::BIGINT AS x,
                     floor(CAST(embedding[2] AS DOUBLE) * 1000000.0
                           + 0.5)::BIGINT AS y
              FROM embeddings
            ), agg AS (
              SELECT COUNT(*)::BIGINT AS n,
                     SUM(x)::BIGINT AS sx, SUM(y)::BIGINT AS sy,
                     SUM(x * y)::BIGINT AS sxy,
                     SUM(x * x)::BIGINT AS sxx,
                     SUM(y * y)::BIGINT AS syy
              FROM q
            ), t AS (
              SELECT n, (n * sxy - sx * sy)::BIGINT AS cov_num,
                     (n * sxx - sx * sx)::BIGINT AS varx_num,
                     (n * syy - sy * sy)::BIGINT AS vary_num
              FROM agg
            ), v AS (
              SELECT n, cov_num, varx_num, vary_num,
                     CAST(cov_num AS DOUBLE)
                       / sqrt(CAST(varx_num AS DOUBLE)
                              * CAST(vary_num AS DOUBLE)) AS e
              FROM t
            )
            SELECT n AS n_rows, cov_num, varx_num, vary_num,
                   (CASE WHEN e < 0 THEN -1 WHEN e > 0 THEN 1 ELSE 0 END)
                     * floor(abs(e) * 1000000.0 + 0.5) / 1000000.0 + 0.0
                     AS corr
            FROM v
        """,
        # mirrors _q_source_lang_rollup: DuckDB GROUP BY ROLLUP with the
        # same (source, lang) bitmask semantics as Spark grouping_id()
        "source_lang_rollup": """
            SELECT source, lang, COUNT(*)::BIGINT AS n_docs,
                   SUM(n_chars)::BIGINT AS sum_chars,
                   GROUPING(source, lang)::BIGINT AS gid
            FROM documents
            GROUP BY ROLLUP (source, lang)
        """,
        # mirrors _q_sentence_split: same synthetic terminators
        # (\brow\b -> 'row.'), same inject-chr(31)-then-split (the
        # ASCII-fixture separator convention), 0-based PRE-filter
        # sent_idx via the house unnest(range(...)) position pattern
        "sentence_split": """
            WITH marked AS (
              SELECT doc_id,
                     regexp_replace(
                       regexp_replace(text, '\\brow\\b', 'row.', 'g'),
                       '([.!?]) +', '\\1' || chr(31), 'g') AS mt
              FROM documents
            ), arrs AS (
              SELECT doc_id, string_split(mt, chr(31)) AS arr
              FROM marked
            ), ex AS (
              SELECT doc_id, (i - 1)::BIGINT AS sent_idx,
                     trim(arr[i]) AS sentence
              FROM arrs, unnest(range(1, len(arr) + 1)) AS t(i)
            )
            SELECT doc_id, sent_idx, sentence,
                   len(list_filter(
                       string_split_regex(trim(sentence), '\\s+'),
                       w -> w <> ''))::BIGINT AS n_words
            FROM ex WHERE sentence <> ''
        """,
    }
    # both scorers are gated against the SAME twin (one definition,
    # no drift between the two scorers' oracles)
    out["knn_join_jvm"] = out["knn_join"]
    # bounded streaming replay == the batch statistic (one ks_from_hist
    # definition drives both), so the oracle is shared
    out["streaming_drift"] = out["ks_drift"]
    # the Python-DataSource reader must equal the JVM fast-path reader
    out["pyds_roundtrip"] = out["geojsonl_roundtrip"]
    out["pyds_write_roundtrip"] = out["geojsonl_roundtrip"]
    # the Python UDTF chunker must equal the array fast-path chunker
    out["chunk_udtf"] = out["chunk_docs"]
    # bounded streaming replay == the batch histogram quantiles
    out["streaming_quantiles"] = out["value_hist_quantiles"]
    # min-k union is batch-split insensitive: the stateful streaming
    # KMV's bounded replay == the batch bottom-k sketch
    out["streaming_kmv"] = out["kmv_quantiles"]
    # bounded streaming replay == the batch chi2/PSI statistic (one
    # cat_drift_from_hist definition drives both)
    out["streaming_cat_drift"] = out["cat_drift"]
    # constant dim^2-state streaming Gram + shared power tail: bounded
    # replay == the batch PCA
    out["streaming_pca"] = out["pca_power"]
    # kappa wraps the confusion matrix: reuse the lang_confusion SQL
    # as a CTE so the prediction logic has ONE definition per engine
    out["kappa_eval"] = f"""
        WITH conf AS ({out["lang_confusion"]})
        , t AS (
          SELECT SUM(n_docs)::BIGINT AS n_total,
                 SUM(CASE WHEN lang = lang_pred THEN n_docs
                          ELSE 0 END)::BIGINT AS trace
          FROM conf
        ), r AS (SELECT lang AS lbl, SUM(n_docs)::BIGINT AS rn
                 FROM conf GROUP BY lang),
        c AS (SELECT lang_pred AS lbl, SUM(n_docs)::BIGINT AS cn
              FROM conf GROUP BY lang_pred),
        m AS (SELECT SUM(COALESCE(rn, 0) * COALESCE(cn, 0))::BIGINT
                       AS pe_num
              FROM r FULL JOIN c USING (lbl))
        SELECT n_total, trace, pe_num,
               CASE WHEN n_total * n_total - pe_num = 0 THEN NULL
                    ELSE ((CASE WHEN ((n_total * trace - pe_num)::DOUBLE
                                      / (n_total * n_total - pe_num)
                                        ::DOUBLE) < 0
                                THEN -1 ELSE 1 END)
                          * floor(abs((n_total * trace - pe_num)::DOUBLE
                                      / (n_total * n_total - pe_num)
                                        ::DOUBLE) * 1000000.0 + 0.5)
                          / 1000000.0 + 0.0)
               END AS kappa
        FROM t, m
    """
    # ---- round-9 additions: eval + tokenizer-report family ----
    out["mcc_eval"] = f"""
        WITH conf AS ({out["lang_confusion"]})
        , t AS (
          SELECT SUM(n_docs)::BIGINT AS n_total,
                 SUM(CASE WHEN lang = lang_pred THEN n_docs
                          ELSE 0 END)::BIGINT AS trace
          FROM conf
        ), r AS (SELECT lang AS lbl, SUM(n_docs)::BIGINT AS rn
                 FROM conf GROUP BY lang),
        c AS (SELECT lang_pred AS lbl, SUM(n_docs)::BIGINT AS cn
              FROM conf GROUP BY lang_pred),
        m AS (SELECT SUM(COALESCE(rn, 0) * COALESCE(cn, 0))::BIGINT
                       AS rc_num,
                     SUM(COALESCE(rn, 0) * COALESCE(rn, 0))::BIGINT
                       AS rr_num,
                     SUM(COALESCE(cn, 0) * COALESCE(cn, 0))::BIGINT
                       AS cc_num
              FROM r FULL JOIN c USING (lbl)),
        v AS (SELECT n_total, trace, rc_num, rr_num, cc_num,
                     (n_total * trace - rc_num)::DOUBLE
                       / (sqrt((n_total * n_total - rr_num)::DOUBLE)
                          * sqrt((n_total * n_total - cc_num)::DOUBLE))
                       AS e
              FROM t, m)
        SELECT n_total, trace, rc_num, rr_num, cc_num,
               CASE WHEN n_total * n_total > rr_num
                         AND n_total * n_total > cc_num
                    THEN (CASE WHEN e < 0 THEN -1
                               WHEN e > 0 THEN 1 ELSE 0 END)
                         * floor(abs(e) * 1000000.0 + 0.5)
                         / 1000000.0 + 0.0
                    ELSE NULL END AS mcc
        FROM v
    """
    out["pr_auc"] = """
        WITH s AS (
          SELECT floor(CAST(embedding[1] AS DOUBLE) * 20)::BIGINT
                   AS score,
                 CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
          FROM embeddings
        ), hist AS (
          SELECT score, COUNT(*)::BIGINT AS n, SUM(y)::BIGINT AS npos
          FROM s GROUP BY score
        ), cum AS (
          SELECT n, npos,
                 SUM(npos) OVER (ORDER BY score DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   ::BIGINT AS cum_tp,
                 SUM(n) OVER (ORDER BY score DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   ::BIGINT AS cum_n
          FROM hist
        ), agg AS (
          SELECT SUM(npos)::BIGINT AS n_pos,
                 SUM(n - npos)::BIGINT AS n_neg,
                 COUNT(*)::BIGINT AS n_scores,
                 SUM(npos * ((2000000 * cum_tp + cum_n)
                             // (2 * cum_n)))::BIGINT AS ap_sum_micro
          FROM cum
        )
        SELECT n_pos, n_neg, n_scores, ap_sum_micro,
               CASE WHEN n_pos > 0
                    THEN ((2 * ap_sum_micro + n_pos) // (2 * n_pos))
                         / 1000000.0 + 0.0
                    ELSE NULL END AS ap
        FROM agg
    """
    out["ece_eval"] = """
        WITH s AS (
          SELECT least(greatest(CAST(floor(
                   (CAST(embedding[1] AS DOUBLE) + 0.5) * 1000000.0
                   + 0.5) AS BIGINT), 0), 1000000) AS cm,
                 CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
          FROM embeddings
        ), bins AS (
          SELECT least((cm * 10) // 1000000, 9) AS bin,
                 COUNT(*)::BIGINT AS n, SUM(y)::BIGINT AS npos,
                 SUM(cm)::BIGINT AS conf_sum
          FROM s GROUP BY 1
        ), agg AS (
          SELECT SUM(n)::BIGINT AS n_total,
                 COUNT(*)::BIGINT AS n_bins_used,
                 SUM(abs(npos * 1000000 - conf_sum))::BIGINT
                   AS gap_sum_micro
          FROM bins
        )
        SELECT n_total, n_bins_used, gap_sum_micro,
               ((2 * gap_sum_micro + n_total) // (2 * n_total))
               / 1000000.0 + 0.0 AS ece
        FROM agg
    """
    _rank_pair = f"""
        bf AS (SELECT query_id, neighbor_id, rank
               FROM ({_COSINE_TOPK_SQL})),
        ann AS (SELECT query_id, neighbor_id, rank
                FROM ({_ivf_trained_oracle()})),
        c AS (SELECT bf.query_id, bf.neighbor_id,
                     bf.rank AS ra, ann.rank AS rb
              FROM bf JOIN ann USING (query_id, neighbor_id)),
        q AS (SELECT DISTINCT query_id FROM bf)
    """
    out["spearman_eval"] = f"""
        WITH {_rank_pair},
        rr AS (SELECT query_id,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY ra)::BIGINT AS ra2,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY rb)::BIGINT AS rb2
               FROM c),
        s AS (SELECT query_id, COUNT(*)::BIGINT AS n_common,
                     SUM((ra2 - rb2) * (ra2 - rb2))::BIGINT AS d2_sum
              FROM rr GROUP BY query_id)
        SELECT q.query_id,
               COALESCE(s.n_common, 0)::BIGINT AS n_common,
               COALESCE(s.d2_sum, 0)::BIGINT AS d2_sum,
               CASE WHEN s.n_common >= 2 THEN
                 (CASE WHEN (s.n_common * (s.n_common * s.n_common - 1)
                             - 6 * s.d2_sum) < 0 THEN -1
                       WHEN (s.n_common * (s.n_common * s.n_common - 1)
                             - 6 * s.d2_sum) > 0 THEN 1 ELSE 0 END)
                 * ((2000000 * abs(s.n_common
                                   * (s.n_common * s.n_common - 1)
                                   - 6 * s.d2_sum)
                     + s.n_common * (s.n_common * s.n_common - 1))
                    // (2 * s.n_common
                        * (s.n_common * s.n_common - 1)))
                 / 1000000.0 + 0.0
               ELSE NULL END AS rho
        FROM q LEFT JOIN s USING (query_id)
    """
    out["kendall_eval"] = f"""
        WITH {_rank_pair},
        pairs AS (SELECT a.query_id,
                         (a.ra - b.ra) * (a.rb - b.rb) AS sgn
                  FROM c a JOIN c b
                    ON a.query_id = b.query_id
                   AND a.neighbor_id < b.neighbor_id),
        s AS (SELECT query_id,
                     SUM(CASE WHEN sgn > 0 THEN 1 ELSE 0 END)::BIGINT
                       AS n_conc,
                     SUM(CASE WHEN sgn < 0 THEN 1 ELSE 0 END)::BIGINT
                       AS n_disc
              FROM pairs GROUP BY query_id),
        sizes AS (SELECT query_id, COUNT(*)::BIGINT AS n_common
                  FROM c GROUP BY query_id)
        SELECT q.query_id,
               COALESCE(z.n_common, 0)::BIGINT AS n_common,
               COALESCE(s.n_conc, 0)::BIGINT AS n_concordant,
               COALESCE(s.n_disc, 0)::BIGINT AS n_discordant,
               CASE WHEN z.n_common >= 2 THEN
                 (CASE WHEN (COALESCE(s.n_conc, 0)
                             - COALESCE(s.n_disc, 0)) < 0 THEN -1
                       WHEN (COALESCE(s.n_conc, 0)
                             - COALESCE(s.n_disc, 0)) > 0 THEN 1
                       ELSE 0 END)
                 * ((2000000 * abs(2 * (COALESCE(s.n_conc, 0)
                                        - COALESCE(s.n_disc, 0)))
                     + z.n_common * (z.n_common - 1))
                    // (2 * z.n_common * (z.n_common - 1)))
                 / 1000000.0 + 0.0
               ELSE NULL END AS tau
        FROM q LEFT JOIN sizes z USING (query_id)
        LEFT JOIN s USING (query_id)
    """
    out["rrf_fusion"] = (lambda W: f"""
        WITH bf AS (SELECT query_id, neighbor_id, rank
                    FROM ({_COSINE_TOPK_SQL})),
        ann AS (SELECT query_id, neighbor_id, rank
                FROM ({_ivf_trained_oracle()})),
        wt(m, w) AS (VALUES {", ".join(
            f"({m}, {w})" for m, w in enumerate(W, start=1))}),
        fused AS (
          SELECT query_id, neighbor_id,
                 (COALESCE(wa.w, 0) + COALESCE(wb.w, 0))::BIGINT
                   AS rrf_micro
          FROM bf FULL JOIN ann USING (query_id, neighbor_id)
          LEFT JOIN wt wa ON wa.m = bf.rank
          LEFT JOIN wt wb ON wb.m = ann.rank),
        ranked AS (
          SELECT query_id, neighbor_id, rrf_micro,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY rrf_micro DESC,
                                             neighbor_id ASC)::INT
                   AS rank
          FROM fused)
        SELECT query_id, neighbor_id, rrf_micro, rank
        FROM ranked WHERE rank <= 10
    """)(__import__("datafusion_geo_spark.operators.evals",
                    fromlist=["rrf_weights_micro"])
         .rrf_weights_micro(10, 60))
    out["kn_ppl_by_lang"] = _kn_bigram_ppl_by_lang_oracle()
    out["tokenizer_report"] = f"""
        WITH sel AS (SELECT * FROM ({_tokenizer_selection_oracle((2, 4, 8))})),
        knl AS (SELECT * FROM ({_kn_bigram_ppl_by_lang_oracle()})),
        ref AS (SELECT lang, coverage_micro AS ref_cov
                FROM sel WHERE n_merges = 8),
        pick AS (SELECT sel.lang, MIN(n_merges)::INT AS sel_merges
                 FROM sel JOIN ref USING (lang)
                 WHERE 100 * coverage_micro >= 95 * ref_cov
                 GROUP BY sel.lang)
        SELECT p.lang, p.sel_merges, s.n_tokens, s.fertility_micro,
               s.coverage_micro, k.ppl_micro, k.n_test_bigrams
        FROM pick p
        JOIN sel s ON s.lang = p.lang AND s.n_merges = p.sel_merges
        LEFT JOIN knl k ON k.lang = p.lang
    """
    out["f1_per_class"] = f"""
        WITH conf AS ({out["lang_confusion"]})
        , r AS (SELECT lang AS lbl, SUM(n_docs)::BIGINT AS n_true
                FROM conf GROUP BY lang),
        c AS (SELECT lang_pred AS lbl, SUM(n_docs)::BIGINT AS n_pred
              FROM conf GROUP BY lang_pred),
        d AS (SELECT lang AS lbl, SUM(n_docs)::BIGINT AS tp
              FROM conf WHERE lang = lang_pred GROUP BY lang),
        j AS (SELECT lbl,
                     COALESCE(n_true, 0)::BIGINT AS n_true,
                     COALESCE(n_pred, 0)::BIGINT AS n_pred,
                     COALESCE(tp, 0)::BIGINT AS tp
              FROM r FULL JOIN c USING (lbl) LEFT JOIN d USING (lbl))
        SELECT lbl, n_true, n_pred, tp,
               CASE WHEN n_pred > 0 THEN
                 ((2000000 * tp + n_pred) // (2 * n_pred))
                 / 1000000.0 + 0.0 END AS "precision",
               CASE WHEN n_true > 0 THEN
                 ((2000000 * tp + n_true) // (2 * n_true))
                 / 1000000.0 + 0.0 END AS recall,
               CASE WHEN n_true + n_pred > 0 THEN
                 ((2000000 * (2 * tp) + (n_true + n_pred))
                  // (2 * (n_true + n_pred))) / 1000000.0 + 0.0
               END AS f1
        FROM j
    """
    _wll = "string_split_regex(trim(lower(text)), '\\s+')"
    out["pmi_bigrams"] = f"""
        WITH toks AS (
          SELECT w FROM (SELECT unnest({_wll}) AS w FROM documents)
          WHERE w <> ''
        ), uni AS (
          SELECT w, COUNT(*)::BIGINT AS c FROM toks GROUP BY w
        ), uni2 AS (
          SELECT w, c, SUM(c) OVER ()::BIGINT AS n_tok FROM uni
        ), tw AS (SELECT {_wll} AS w FROM documents),
        tbg AS (SELECT w[i::INT] AS w1, w[(i + 1)::INT] AS w2
                FROM tw, unnest(range(1, len(w))) AS t(i)),
        bg AS (SELECT w1, w2, COUNT(*)::BIGINT AS c12 FROM tbg
               WHERE w1 <> '' AND w2 <> '' GROUP BY w1, w2),
        bg2 AS (SELECT w1, w2, c12,
                       SUM(c12) OVER ()::BIGINT AS n_bg FROM bg),
        j AS (SELECT b.w1, b.w2, b.c12, u1.c AS c1, u2.c AS c2,
                     u1.n_tok, b.n_bg
              FROM (SELECT * FROM bg2 WHERE c12 >= 5) b
              JOIN uni2 u1 ON u1.w = b.w1
              JOIN uni2 u2 ON u2.w = b.w2),
        p AS (SELECT w1, w2, c12, c1, c2,
                     (CASE WHEN ln((c12 * n_tok)::DOUBLE
                                   / (c1 * c2)::DOUBLE
                                   * (n_tok::DOUBLE / n_bg::DOUBLE)) < 0
                           THEN -1 ELSE 1 END)
                     * CAST(floor(abs(ln((c12 * n_tok)::DOUBLE
                                         / (c1 * c2)::DOUBLE
                                         * (n_tok::DOUBLE
                                            / n_bg::DOUBLE)))
                                  * 1000000.0 + 0.5) AS BIGINT)
                       AS pmi_micro
              FROM j)
        SELECT w1, w2, c12, c1, c2, pmi_micro
        FROM p ORDER BY pmi_micro DESC, w1 ASC, w2 ASC LIMIT 50
    """
    _p_frac = "(cp::DOUBLE / np::DOUBLE)"
    _q_frac = "(cq::DOUBLE / nq::DOUBLE)"
    _m_frac = f"(({_p_frac} + {_q_frac}) / 2.0)"
    _ta = (f"(CASE WHEN ({_p_frac} * ln({_p_frac} / {_m_frac})) < 0 "
           f"THEN -1 ELSE 1 END) * CAST(floor(abs({_p_frac} "
           f"* ln({_p_frac} / {_m_frac})) * 1000000.0 + 0.5) AS BIGINT)")
    _tb = (f"(CASE WHEN ({_q_frac} * ln({_q_frac} / {_m_frac})) < 0 "
           f"THEN -1 ELSE 1 END) * CAST(floor(abs({_q_frac} "
           f"* ln({_q_frac} / {_m_frac})) * 1000000.0 + 0.5) AS BIGINT)")
    out["js_unigram_drift"] = f"""
        WITH ca AS (
          SELECT w, COUNT(*)::BIGINT AS cp FROM (
            SELECT unnest({_wll}) AS w FROM documents
            WHERE doc_id % 11 <> 0)
          WHERE w <> '' GROUP BY w
        ), cb AS (
          SELECT w, COUNT(*)::BIGINT AS cq FROM (
            SELECT unnest({_wll}) AS w FROM documents
            WHERE doc_id % 13 <> 0)
          WHERE w <> '' GROUP BY w
        ), u AS (
          SELECT w, COALESCE(cp, 0)::BIGINT AS cp,
                 COALESCE(cq, 0)::BIGINT AS cq
          FROM ca FULL JOIN cb USING (w)
        ), u2 AS (
          SELECT w, cp, cq, SUM(cp) OVER ()::BIGINT AS np,
                 SUM(cq) OVER ()::BIGINT AS nq
          FROM u
        ), t AS (
          SELECT CASE WHEN cp > 0 THEN {_ta} ELSE 0 END AS ta,
                 CASE WHEN cq > 0 THEN {_tb} ELSE 0 END AS tb,
                 np, nq
          FROM u2
        ), agg AS (
          SELECT COUNT(*)::BIGINT AS n_vocab_union,
                 MAX(np)::BIGINT AS n_old_tokens,
                 MAX(nq)::BIGINT AS n_new_tokens,
                 SUM(ta)::BIGINT AS jsa_micro_sum,
                 SUM(tb)::BIGINT AS jsb_micro_sum
          FROM t
        )
        SELECT n_vocab_union, n_old_tokens, n_new_tokens,
               jsa_micro_sum, jsb_micro_sum,
               (CASE WHEN (jsa_micro_sum + jsb_micro_sum) < 0 THEN -1
                     WHEN (jsa_micro_sum + jsb_micro_sum) > 0 THEN 1
                     ELSE 0 END)
               * ((abs(jsa_micro_sum + jsb_micro_sum) + 1) // 2)
               / 1000000.0 + 0.0 AS js
        FROM agg
    """
    # streaming twin: bounded replay == batch, oracle SHARED (the
    # streaming_kmv / streaming_cat_drift convention)
    out["streaming_ece"] = out["ece_eval"]

    # ---- round-9 batch 3: overlap/agreement evals, novelty audit,
    #      edit-distance join ----
    _sgn_r6 = ("(CASE WHEN ({x}) < 0 THEN -1 WHEN ({x}) > 0 THEN 1 "
               "ELSE 0 END) * floor(abs({x}) * 1000000.0 + 0.5) "
               "/ 1000000.0 + 0.0")
    out["ari_eval"] = f"""
        WITH conf AS ({out["lang_confusion"]})
        , t AS (
          SELECT SUM(n_docs * (n_docs - 1) // 2)::BIGINT AS sum_ab_pairs,
                 SUM(n_docs)::BIGINT AS n_total
          FROM conf
        ), a AS (
          SELECT SUM(an * (an - 1) // 2)::BIGINT AS sum_a_pairs FROM (
            SELECT SUM(n_docs)::BIGINT AS an FROM conf GROUP BY lang)
        ), b AS (
          SELECT SUM(bn * (bn - 1) // 2)::BIGINT AS sum_b_pairs FROM (
            SELECT SUM(n_docs)::BIGINT AS bn FROM conf
            GROUP BY lang_pred)
        ), v AS (
          SELECT n_total, sum_ab_pairs, sum_a_pairs, sum_b_pairs,
                 sum_a_pairs::DOUBLE * sum_b_pairs::DOUBLE
                   / ((n_total * (n_total - 1) // 2)::DOUBLE) AS e,
                 (sum_a_pairs + sum_b_pairs)::DOUBLE / 2.0 AS h
          FROM t, a, b
        )
        SELECT n_total, sum_ab_pairs, sum_a_pairs, sum_b_pairs,
               CASE WHEN (h - e) <> 0 THEN
                 {_sgn_r6.format(x="(sum_ab_pairs::DOUBLE - e) / (h - e)")}
               ELSE NULL END AS ari
        FROM v
    """
    _pert_words = ("string_split_regex(trim(substr(text, "
                   "instr(text, ' ') + 1)), '\\s+')")
    out["krippendorff_alpha"] = f"""
        WITH r0 AS (
          SELECT doc_id, lang AS r_truth,
                 {_lang_pred_sql("wf")} AS r_full,
                 {_lang_pred_sql("wp")} AS r_pert
          FROM (SELECT doc_id, lang, {_WORDS} AS wf,
                       {_pert_words} AS wp
                FROM documents)
        ), r AS (
          SELECT * FROM r0
          WHERE r_truth IS NOT NULL AND r_full IS NOT NULL
            AND r_pert IS NOT NULL
        ), tot AS (
          SELECT COUNT(*)::BIGINT AS n_units,
                 COALESCE((2 * SUM((r_truth <> r_full)::INT
                          + (r_truth <> r_pert)::INT
                          + (r_full <> r_pert)::INT))::BIGINT,
                          0) AS o_mis2
          FROM r
        ), sk AS (
          SELECT COUNT(*)::BIGINT AS n_skipped FROM r0
          WHERE r_truth IS NULL OR r_full IS NULL OR r_pert IS NULL
        ), marg AS (
          SELECT COALESCE(SUM(c), 0)::BIGINT AS n_ratings,
                 COALESCE(SUM(c * c), 0)::BIGINT AS sq
          FROM (SELECT COUNT(*)::BIGINT AS c FROM (
                  SELECT unnest([r_truth, r_full, r_pert]) AS lbl
                  FROM r) GROUP BY lbl)
        ), v AS (
          SELECT n_units, n_skipped, n_ratings, o_mis2,
                 (n_ratings * n_ratings - sq)::BIGINT AS nn_mis
          FROM tot, sk, marg
        )
        SELECT n_units, n_skipped, n_ratings, o_mis2, nn_mis,
               CASE WHEN nn_mis > 0 THEN
                 {_sgn_r6.format(
                     x="1.0 - ((n_ratings - 1) * o_mis2)::DOUBLE "
                       "/ (2 * nn_mis)::DOUBLE")}
               ELSE NULL END AS alpha
        FROM v
    """
    out["bleu_eval"] = f"""
        WITH p AS (
          SELECT doc_id, {_pert_words} AS cw, {_WORDS} AS rw
          FROM documents
        ), ns AS (SELECT unnest([1, 2, 3, 4]) AS n),
        cg AS (
          SELECT doc_id, n,
                 unnest(list_transform(range(1, len(cw) - n + 2),
                   i -> array_to_string(list_slice(cw, i, i + n - 1),
                                        ' '))) AS g
          FROM p, ns WHERE len(cw) >= n
        ), rg AS (
          SELECT doc_id, n,
                 unnest(list_transform(range(1, len(rw) - n + 2),
                   i -> array_to_string(list_slice(rw, i, i + n - 1),
                                        ' '))) AS g
          FROM p, ns WHERE len(rw) >= n
        ), cc AS (SELECT doc_id, n, g, COUNT(*)::BIGINT AS c
                  FROM cg GROUP BY doc_id, n, g),
        rc AS (SELECT doc_id, n, g, COUNT(*)::BIGINT AS c
               FROM rg GROUP BY doc_id, n, g),
        mt AS (SELECT cc.n AS n, SUM(LEAST(cc.c, rc.c))::BIGINT AS m
               FROM cc JOIN rc USING (doc_id, n, g) GROUP BY cc.n),
        tt AS (SELECT n, SUM(GREATEST(len(cw) - n + 1, 0))::BIGINT AS t
               FROM p, ns GROUP BY n),
        lens AS (SELECT SUM(len(cw))::BIGINT AS c_len,
                        SUM(len(rw))::BIGINT AS r_len FROM p),
        one AS (
          SELECT
            SUM(CASE WHEN n = 1 THEN COALESCE(m, 0) END)::BIGINT AS m1,
            SUM(CASE WHEN n = 1 THEN t END)::BIGINT AS t1,
            SUM(CASE WHEN n = 2 THEN COALESCE(m, 0) END)::BIGINT AS m2,
            SUM(CASE WHEN n = 2 THEN t END)::BIGINT AS t2,
            SUM(CASE WHEN n = 3 THEN COALESCE(m, 0) END)::BIGINT AS m3,
            SUM(CASE WHEN n = 3 THEN t END)::BIGINT AS t3,
            SUM(CASE WHEN n = 4 THEN COALESCE(m, 0) END)::BIGINT AS m4,
            SUM(CASE WHEN n = 4 THEN t END)::BIGINT AS t4
          FROM tt LEFT JOIN mt USING (n)
        ), v AS (
          SELECT *,
                 CASE WHEN m1 > 0 AND m2 > 0 AND m3 > 0 AND m4 > 0
                      THEN (CASE WHEN c_len >= r_len THEN 1.0
                                 ELSE exp(1.0 - r_len::DOUBLE
                                          / c_len::DOUBLE) END)
                           * exp((ln(m1::DOUBLE / t1::DOUBLE)
                                  + ln(m2::DOUBLE / t2::DOUBLE)
                                  + ln(m3::DOUBLE / t3::DOUBLE)
                                  + ln(m4::DOUBLE / t4::DOUBLE))
                                 / 4.0)
                      ELSE NULL END AS bl
          FROM one, lens
        )
        SELECT m1, t1, m2, t2, m3, t3, m4, t4, c_len, r_len,
               CASE WHEN bl IS NOT NULL
                    THEN {_sgn_r6.format(x="bl")}
                    ELSE NULL END AS bleu
        FROM v
    """
    out["novel_ngrams"] = f"""
        WITH base AS (
          SELECT lang AS grp,
                 ({_H64.format(arg="CAST(doc_id AS VARCHAR)")}) % 10000
                   < 9000 AS tr,
                 {_WORDS} AS w
          FROM documents
        ), grams AS (
          SELECT grp, tr,
                 unnest(list_transform(range(1, len(w) - 1),
                   i -> array_to_string(list_slice(w, i, i + 2),
                                        ' '))) AS g
          FROM base WHERE len(w) >= 3
        ), tr_g AS (SELECT DISTINCT grp, g FROM grams WHERE tr),
        ev_g AS (SELECT DISTINCT grp, g FROM grams WHERE NOT tr),
        tot AS (SELECT grp, COUNT(*)::BIGINT AS n_eval_grams
                FROM ev_g GROUP BY grp),
        nov AS (SELECT grp, COUNT(*)::BIGINT AS n_novel
                FROM ev_g e
                WHERE NOT EXISTS (SELECT 1 FROM tr_g t
                                  WHERE t.grp = e.grp AND t.g = e.g)
                GROUP BY grp)
        SELECT t.grp AS lang, t.n_eval_grams,
               COALESCE(nov.n_novel, 0)::BIGINT AS n_novel_grams,
               ((2000000 * COALESCE(nov.n_novel, 0) + t.n_eval_grams)
                // (2 * t.n_eval_grams)) / 1000000.0 AS novel_ratio
        FROM tot t LEFT JOIN nov USING (grp)
    """
    out["wer_eval"] = f"""
        WITH p AS (
          SELECT doc_id,
                 string_split_regex(trim(substr(t2, instr(t2, ' ') + 1)),
                                    '\\s+') AS cw,
                 {_WORDS} AS rw
          FROM (SELECT doc_id, text,
                       regexp_replace(text, '\\bdata\\b', 'info', 'g')
                         AS t2
                FROM documents)
        ), e AS (
          SELECT cw, rw,
                 list_distinct(list_concat(rw, cw)) AS vocab
          FROM p
        ), d AS (
          SELECT len(vocab) <= 79 AS ok,
                 CASE WHEN len(vocab) <= 79 THEN levenshtein(
                   array_to_string(list_transform(cw,
                     x -> chr(47 + list_position(vocab, x))), ''),
                   array_to_string(list_transform(rw,
                     x -> chr(47 + list_position(vocab, x))), ''))
                 END::BIGINT AS dist,
                 CASE WHEN len(vocab) <= 79 THEN len(rw)
                 END::BIGINT AS nr
          FROM e
        ), agg AS (
          SELECT COUNT(*)::BIGINT AS n_docs,
                 SUM((NOT ok)::INT)::BIGINT AS n_skipped,
                 SUM(COALESCE(dist, 0))::BIGINT AS sum_edits,
                 SUM(COALESCE(nr, 0))::BIGINT AS sum_ref_words
          FROM d
        )
        SELECT n_docs, n_skipped, sum_edits, sum_ref_words,
               CASE WHEN sum_ref_words > 0 THEN
                 ((2000000 * sum_edits + sum_ref_words)
                  // (2 * sum_ref_words)) / 1000000.0
               ELSE NULL END AS wer
        FROM agg
    """
    _chrf_p = " + ".join(
        f"(m{n}::DOUBLE / tc{n}::DOUBLE)" for n in range(1, 7))
    _chrf_r = " + ".join(
        f"(m{n}::DOUBLE / tr{n}::DOUBLE)" for n in range(1, 7))
    _chrf_pos = " AND ".join(
        f"tc{n} > 0 AND tr{n} > 0" for n in range(1, 7))
    out["chrf_eval"] = f"""
        WITH p AS (
          SELECT doc_id,
                 regexp_replace(substr(text, instr(text, ' ') + 1),
                                '\\s+', '', 'g') AS c,
                 regexp_replace(text, '\\s+', '', 'g') AS r
          FROM documents
        ), ns AS (SELECT unnest([1, 2, 3, 4, 5, 6]) AS n),
        cg AS (
          SELECT doc_id, n,
                 unnest(list_transform(range(1, len(c) - n + 2),
                   i -> substr(c, i, n))) AS g
          FROM p, ns WHERE len(c) >= n
        ), rg AS (
          SELECT doc_id, n,
                 unnest(list_transform(range(1, len(r) - n + 2),
                   i -> substr(r, i, n))) AS g
          FROM p, ns WHERE len(r) >= n
        ), cc AS (SELECT doc_id, n, g, COUNT(*)::BIGINT AS c
                  FROM cg GROUP BY doc_id, n, g),
        rc AS (SELECT doc_id, n, g, COUNT(*)::BIGINT AS c
               FROM rg GROUP BY doc_id, n, g),
        mt AS (SELECT cc.n AS n, SUM(LEAST(cc.c, rc.c))::BIGINT AS m
               FROM cc JOIN rc USING (doc_id, n, g) GROUP BY cc.n),
        tt AS (SELECT n,
                      SUM(GREATEST(len(c) - n + 1, 0))::BIGINT AS tc,
                      SUM(GREATEST(len(r) - n + 1, 0))::BIGINT AS tr
               FROM p, ns GROUP BY n),
        one AS (
          SELECT
            {", ".join(
                f"SUM(CASE WHEN n = {n} THEN COALESCE(m, 0) END)"
                f"::BIGINT AS m{n}, "
                f"SUM(CASE WHEN n = {n} THEN tc END)::BIGINT AS tc{n}, "
                f"SUM(CASE WHEN n = {n} THEN tr END)::BIGINT AS tr{n}"
                for n in range(1, 7))}
          FROM tt LEFT JOIN mt USING (n)
        ), v AS (
          SELECT *,
                 CASE WHEN {_chrf_pos}
                      THEN ({_chrf_p}) / 6.0 END AS pavg,
                 CASE WHEN {_chrf_pos}
                      THEN ({_chrf_r}) / 6.0 END AS ravg
          FROM one
        )
        SELECT {", ".join(f"m{n}, tc{n}, tr{n}" for n in range(1, 7))},
               CASE WHEN pavg IS NOT NULL
                         AND (4.0 * pavg + ravg) > 0
                    THEN {_sgn_r6.format(
                        x="(5.0 * pavg * ravg) / (4.0 * pavg + ravg)")}
                    ELSE NULL END AS chrf
        FROM v
    """
    out["edit_join"] = f"""
        WITH t AS (
          SELECT DISTINCT array_to_string(list_slice({_WORDS}, 1, 3),
                                          ' ') AS s
          FROM documents WHERE trim(text) <> ''
        )
        SELECT a.s AS a, b.s AS b,
               levenshtein(a.s, b.s)::BIGINT AS dist
        FROM t a, t b
        WHERE a.s < b.s
          AND abs(length(a.s) - length(b.s)) <= 2
          AND levenshtein(a.s, b.s) <= 2
    """
    out["temperature_mix"] = f"""
        WITH per AS (
          SELECT lang AS grp, COUNT(*)::BIGINT AS n_docs,
                 SUM(len({_WORDS}))::BIGINT AS n_tokens
          FROM documents GROUP BY lang
        ), sz AS (
          SELECT grp, n_docs, n_tokens,
                 CAST(floor(sqrt(n_tokens::DOUBLE) * 1000.0 + 0.5)
                      AS BIGINT) AS size_milli
          FROM per
        ), w AS (
          SELECT *, SUM(size_milli) OVER ()::BIGINT AS tot FROM sz
        )
        SELECT grp AS lang, n_docs, n_tokens, size_milli,
               ((2000000 * size_milli + tot) // (2 * tot)) / 1000000.0
                 AS weight
        FROM w
    """
    # streaming twin: bounded replay == batch (commutative int64
    # sums, one-row state), oracle SHARED with wer_eval
    out["streaming_wer"] = out["wer_eval"]
    out["fuzzy_title_dedup"] = f"""
        WITH RECURSIVE t AS (
          SELECT doc_id,
                 array_to_string(list_slice({_WORDS}, 1, 3), ' ')
                   AS title
          FROM documents WHERE trim(text) <> ''
        ), dt AS (SELECT DISTINCT title FROM t),
        pairs AS (
          SELECT a.title AS ta, b.title AS tb
          FROM dt a, dt b
          WHERE a.title < b.title
            AND abs(length(a.title) - length(b.title)) <= 2
            AND levenshtein(a.title, b.title) <= 2
        ),
        edges AS (SELECT ta AS src, tb AS dst FROM pairs
                  UNION ALL
                  SELECT tb AS src, ta AS dst FROM pairs),
        verts AS (SELECT DISTINCT src AS v FROM edges),
        reach AS (
          SELECT v, v AS label FROM verts
          UNION
          SELECT e.dst AS v, r.label
          FROM reach r JOIN edges e ON e.src = r.v
        ),
        comp AS (SELECT v AS title, MIN(label) AS component
                 FROM reach GROUP BY v),
        lab AS (
          SELECT t.doc_id, t.title,
                 COALESCE(c.component, t.title) AS component
          FROM t LEFT JOIN comp c ON c.title = t.title
        )
        SELECT component, COUNT(DISTINCT title)::BIGINT AS n_titles,
               COUNT(*)::BIGINT AS n_docs
        FROM lab GROUP BY component
        HAVING COUNT(DISTINCT title) > 1
    """
    # --- round-10 generic-CRS queries (geo/proj.py registry) ---
    from datafusion_geo_spark.geo.proj import CRS_REGISTRY as _CRS
    out["stateplane_lcc"] = _lcc_forward_sql(
        _CRS[2263], _NYC_LONLAT[0], _NYC_LONLAT[1],
        "easting_ft", "northing_ft", 2263)
    # forward∘inverse is identity to ~1e-11° (5 orders under the 6-dp
    # rounding), so the oracle is the analytic input replay
    out["lambert93_roundtrip"] = f"""
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE {_rb6_sql(
                        "-4.0::DOUBLE + (c_custkey % 60) / 5.0::DOUBLE")}
               END AS lon_rt,
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE {_rb6_sql(
                        "42.2::DOUBLE + (c_nationkey % 25)"
                        " * 0.34::DOUBLE")}
               END AS lat_rt,
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE 4326 END AS srid
        FROM customer
    """
    _SM = ("((CASE WHEN ({x}) < 0 THEN -1 ELSE 1 END) * "
           "floor(abs({x}) * 1000000.0 + 0.5))::BIGINT")
    _BG = ("list_transform(range(1, len(w)), "
           "i -> w[i] || ' ' || w[i + 1])")
    out["dsir_select"] = f"""
        WITH dw AS (SELECT doc_id, lang, {_WORDS} AS w FROM documents),
        dg AS (SELECT doc_id, lang, unnest(list_concat(w, {_BG})) AS gram
               FROM dw),
        gb AS (SELECT doc_id, lang,
                      ({_H64.format(arg="gram")}) % 64 AS bucket
               FROM dg WHERE gram <> ''),
        hist AS (SELECT bucket,
                        SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT
                          AS ct,
                        COUNT(*)::BIGINT AS cs
                 FROM gb GROUP BY bucket),
        hist2 AS (SELECT bucket, ct, cs,
                         SUM(ct) OVER ()::BIGINT AS tt,
                         SUM(cs) OVER ()::BIGINT AS ts
                  FROM hist),
        lrt AS (SELECT bucket,
                       {_SM.format(x="ln(((ct + 1) * (ts + 64))::DOUBLE"
                                     " / ((tt + 64) * (cs + 1))::DOUBLE)")}
                         AS lr_micro
                FROM hist2),
        logw AS (SELECT gb.doc_id,
                        SUM(lrt.lr_micro)::BIGINT AS logw_micro
                 FROM gb JOIN lrt USING (bucket) GROUP BY gb.doc_id),
        scored AS (SELECT d.doc_id,
                          COALESCE(l.logw_micro, 0)::BIGINT AS logw_micro
                   FROM (SELECT DISTINCT doc_id FROM documents) d
                   LEFT JOIN logw l USING (doc_id)),
        keyed AS (SELECT doc_id, logw_micro,
                         (logw_micro + {_SM.format(
                             x="-ln(-ln((('0x' || substr(md5('dsir0|' ||"
                               " doc_id::VARCHAR), 1, 8))::BIGINT + 1)"
                               " / 4294967297.0))")})::BIGINT AS key_micro
                  FROM scored)
        SELECT doc_id, logw_micro, key_micro,
               ROW_NUMBER() OVER (ORDER BY key_micro DESC, doc_id)::INT
                 AS rank
        FROM keyed ORDER BY key_micro DESC, doc_id LIMIT 50
    """
    out.update(_unigram_oracles())
    # bounded streaming replay == batch (shared row cols + tail)
    out["streaming_unigram_fertility"] = out["unigram_fertility"]
    # artifact round trips (r11): the exported file re-read must encode
    # EXACTLY like the in-engine fit, so each oracle is the fit's own
    # replay chain — any export/parse loss shows up as a hash mismatch
    out["sp_bpe_roundtrip"] = out["tokenizer_fertility"]
    out["sp_unigram_roundtrip"] = out["unigram_fertility"]
    # binary embeddings: the pack (bit j of word w = dim[32w+j] > 0,
    # 2^j exact for j <= 31) and the bit_count(xor) distance are all
    # integer — full replay. dim = 64 (the fixture embedding), so the
    # dim range is a constant (DuckDB laterals can't take column args)
    _HAMMING_CTE = """
        vecs AS (SELECT vec_id,
                        list_transform(embedding, x -> x::DOUBLE) AS v
                 FROM embeddings),
        words AS (
          SELECT vec_id, (j // 32) AS w,
                 SUM(CASE WHEN v[j + 1] > 0
                          THEN (1::BIGINT << (j % 32))
                          ELSE 0::BIGINT END)::BIGINT AS word
          FROM vecs, unnest(range(0, 64)) AS t(j)
          GROUP BY vec_id, (j // 32)
        ),
        d AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 SUM(bit_count(xor(q.word, c.word)))::BIGINT AS hamming
          FROM words q JOIN words c ON q.w = c.w
          WHERE q.vec_id < 8 AND c.vec_id != q.vec_id
          GROUP BY q.vec_id, c.vec_id
        )"""
    out["hamming_topk"] = f"""
        WITH {_HAMMING_CTE}
        SELECT query_id, neighbor_id, hamming, rank::INT AS rank FROM (
          SELECT query_id, neighbor_id, hamming,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY hamming, neighbor_id) AS rank
          FROM d) WHERE rank <= 10
    """
    # binary recall vs the brute-force cosine ground truth (the
    # ann_recall identity: exact half-up 6-dp integer ratio)
    out["hamming_recall"] = f"""
        WITH {_HAMMING_CTE},
        ann AS (SELECT query_id, neighbor_id FROM (
                  SELECT query_id, neighbor_id,
                         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY hamming, neighbor_id) AS hrank
                  FROM d) WHERE hrank <= 10),
        bf AS (SELECT query_id, neighbor_id
               FROM ({_COSINE_TOPK_SQL})),
        hits AS (SELECT bf.query_id FROM bf
                 JOIN ann USING (query_id, neighbor_id)),
        t AS (SELECT query_id, COUNT(*) AS n_true FROM bf GROUP BY 1),
        h AS (SELECT query_id, COUNT(*) AS n_hit FROM hits GROUP BY 1)
        SELECT t.query_id, t.n_true, COALESCE(h.n_hit, 0) AS n_hit,
               ((2000000*COALESCE(h.n_hit, 0) + t.n_true)
                // (2*t.n_true)) / 1000000.0 AS recall
        FROM t LEFT JOIN h ON t.query_id = h.query_id
    """
    # sliding-window chunking: size 32 / stride 24, replayed entirely
    # in the projection (unnest of a list_transform struct list —
    # DuckDB laterals cannot take column args)
    out["doc_chunks"] = f"""
        WITH dw AS (SELECT doc_id,
                           list_filter({_WORDS}, x -> x <> '') AS w
                    FROM documents),
        ch AS (
          SELECT doc_id,
                 unnest(list_transform(range(0,
                     CASE WHEN len(w) = 0 THEN 0
                          WHEN len(w) <= 32 THEN 1
                          ELSE ((len(w) - 32 + 24 - 1) // 24) + 1 END),
                   i -> struct_pack(
                     cid := i,
                     toks := w[(i*24 + 1):least(i*24 + 32, len(w))])))
                   AS c
          FROM dw)
        SELECT doc_id, c.cid::INT AS chunk_id,
               len(c.toks)::BIGINT AS n_tokens,
               array_to_string(c.toks, ' ') AS chunk_text
        FROM ch
    """
    # funnel: the hamming replay shortlists 50, exact cosine reranks
    # (same micro rounding as cosine_topk's oracle)
    out["binary_rerank"] = f"""
        WITH {_HAMMING_CTE},
        short AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY hamming, neighbor_id) AS hrank
            FROM d) WHERE hrank <= 50
        ),
        rr AS (
          SELECT s.query_id, s.neighbor_id,
                 ((CASE WHEN (list_cosine_similarity(q.v, c.v)) < 0
                        THEN -1 ELSE 1 END)
                  * floor(abs(list_cosine_similarity(q.v, c.v))
                          * 1000000.0 + 0.5) / 1000000.0 + 0.0) AS sim
          FROM short s
          JOIN vecs q ON s.query_id = q.vec_id
          JOIN vecs c ON s.neighbor_id = c.vec_id
        )
        SELECT query_id, neighbor_id, sim, rank::INT AS rank FROM (
          SELECT query_id, neighbor_id, sim,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, neighbor_id) AS rank
          FROM rr) WHERE rank <= 10
    """
    # ROUGE-L: integer LCS DP replayed as a recursive CTE in the
    # prefix-max row form (new[j] = running max over k<=j of
    # max(old[k+1], old[k]+eq_k) — equivalent to the classic
    # recurrence, but each row is a pure list expression with no
    # intra-row sequencing). Pure-int DP + exact 6-dp ratios.
    out["rouge_eval"] = f"""
        WITH RECURSIVE base AS MATERIALIZED (
          SELECT doc_id,
                 list_filter(string_split_regex(
                     trim(substr(t2, instr(t2, ' ') + 1)), '\\s+'),
                   x -> x <> '')[1:32] AS c,
                 list_filter({_WORDS}, x -> x <> '')[1:32] AS r
          FROM (SELECT doc_id, text,
                       regexp_replace(text, '\\bdata\\b', 'info', 'g')
                         AS t2
                FROM documents)
        ),
        dp AS (
          SELECT doc_id, 0 AS i, c, r,
                 list_transform(range(0, len(r) + 1),
                                x -> 0::BIGINT) AS dr
          FROM base WHERE len(c) >= 1 AND len(r) >= 1
          UNION ALL
          SELECT doc_id, i + 1, c, r,
                 list_prepend(0::BIGINT,
                   list_transform(range(1, len(r) + 1), j ->
                     list_max(list_transform(range(1, j + 1), k ->
                       greatest(dr[k + 1], dr[k] +
                         CASE WHEN c[i + 1] = r[k] THEN 1::BIGINT
                              ELSE 0::BIGINT END)))))
          FROM dp WHERE i < len(c)
        ),
        lcs AS (
          SELECT b.doc_id, len(b.c)::BIGINT AS nc,
                 len(b.r)::BIGINT AS nr,
                 COALESCE(d.l, 0::BIGINT) AS l
          FROM base b LEFT JOIN (
            SELECT doc_id, dr[len(r) + 1] AS l
            FROM dp WHERE i = len(c)) d USING (doc_id)
        ),
        tot AS (SELECT COUNT(*)::BIGINT AS n_pairs,
                       SUM(l)::BIGINT AS lcs_sum,
                       SUM(nc)::BIGINT AS cand_words,
                       SUM(nr)::BIGINT AS ref_words
                FROM lcs)
        SELECT n_pairs, lcs_sum, cand_words, ref_words,
               CASE WHEN cand_words > 0 THEN
                 ((2000000 * lcs_sum + cand_words)
                  // (2 * cand_words)) / 1000000.0 END AS rouge_p,
               CASE WHEN ref_words > 0 THEN
                 ((2000000 * lcs_sum + ref_words)
                  // (2 * ref_words)) / 1000000.0 END AS rouge_r,
               CASE WHEN cand_words + ref_words > 0 THEN
                 ((2000000 * 2 * lcs_sum + cand_words + ref_words)
                  // (2 * (cand_words + ref_words))) / 1000000.0
               END AS rouge_f
        FROM tot
    """
    # Benford: exact digit counts from the integer's decimal string;
    # chi2 as nine explicit fixed-order terms with the same embedded
    # micro constants (int::DOUBLE / int::DOUBLE — never a bare
    # DECIMAL literal)
    _BEN = (301030, 176091, 124939, 96910, 79181,
            66947, 57992, 51153, 45757)
    _ben_terms = " + ".join(
        f"(((o{d}::DOUBLE - (n0::DOUBLE * ({_BEN[d-1]}::DOUBLE"
        f" / 1000000::DOUBLE)))"
        f" * (o{d}::DOUBLE - (n0::DOUBLE * ({_BEN[d-1]}::DOUBLE"
        f" / 1000000::DOUBLE))))"
        f" / (n0::DOUBLE * ({_BEN[d-1]}::DOUBLE / 1000000::DOUBLE)))"
        for d in range(1, 10))
    out["benford_audit"] = f"""
        WITH v AS (SELECT CASE WHEN CAST(floor(l_extendedprice * 100.0
                                       + 0.5) AS BIGINT) > 0
                               THEN CAST(floor(l_extendedprice * 100.0
                                        + 0.5) AS BIGINT) END AS pv
                   FROM lineitem),
        a AS (SELECT COUNT(*)::BIGINT AS n_rows,
                     SUM(CASE WHEN pv IS NULL THEN 1 ELSE 0 END)
                       ::BIGINT AS n_excluded,
                     {", ".join(
                         f"SUM(CASE WHEN substr(pv::VARCHAR, 1, 1)"
                         f" = '{d}' THEN 1 ELSE 0 END)::BIGINT AS o{d}"
                         for d in range(1, 10))}
              FROM v),
        b AS (SELECT *, (n_rows - n_excluded)::BIGINT AS n0 FROM a)
        SELECT n0 AS n, n_excluded,
               {", ".join(f"o{d}" for d in range(1, 10))},
               CASE WHEN n0 > 0 THEN
                 (CASE WHEN ({_ben_terms}) < 0 THEN -1 ELSE 1 END)
                 * floor(abs({_ben_terms}) * 1000000.0 + 0.5)
                 / 1000000.0 + 0.0
               END AS chi2
        FROM b
    """
    # MAD outliers: two histogram replays + the integer rank test
    # (100*cum >= 50*n), outlier count summed from the second
    # histogram, house half-away 6-dp rate
    out["mad_outliers"] = """
        WITH e AS (SELECT event_type,
                          CAST(floor(value * 100.0 + 0.5) AS BIGINT)
                            AS v
                   FROM events WHERE value IS NOT NULL),
        h1 AS (SELECT event_type, v, COUNT(*)::BIGINT AS cnt
               FROM e GROUP BY 1, 2),
        r1 AS (SELECT event_type, v, cnt,
                      SUM(cnt) OVER (PARTITION BY event_type
                        ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cum,
                      SUM(cnt) OVER (PARTITION BY event_type) AS nt
               FROM h1),
        med AS (SELECT event_type,
                       MIN(CASE WHEN 100 * cum >= 50 * nt THEN v END)
                         AS med
                FROM r1 GROUP BY 1),
        d AS (SELECT e.event_type, abs(e.v - med.med) AS dev
              FROM e JOIN med USING (event_type)),
        h2 AS (SELECT event_type, dev, COUNT(*)::BIGINT AS cnt
               FROM d GROUP BY 1, 2),
        r2 AS (SELECT event_type, dev, cnt,
                      SUM(cnt) OVER (PARTITION BY event_type
                        ORDER BY dev ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cum,
                      SUM(cnt) OVER (PARTITION BY event_type) AS nt
               FROM h2),
        mad AS (SELECT event_type, MAX(nt)::BIGINT AS n,
                       MIN(CASE WHEN 100 * cum >= 50 * nt THEN dev
                           END) AS mad
                FROM r2 GROUP BY 1),
        outs AS (SELECT h2.event_type,
                        SUM(CASE WHEN h2.dev > 3 * mad.mad
                                 THEN h2.cnt ELSE 0 END)::BIGINT
                          AS n_outliers
                 FROM h2 JOIN mad USING (event_type) GROUP BY 1)
        SELECT m.event_type, m.n, med.med, m.mad, o.n_outliers,
               ((2000000 * o.n_outliers + m.n) // (2 * m.n))
                 / 1000000.0 AS outlier_rate
        FROM mad m JOIN med USING (event_type)
        JOIN outs o ON o.event_type = m.event_type
    """
    # correlation matrix: same exact-int moments, same closed form
    # (variance product in doubles, sqrt, one 6-dp round at the end)
    _CM_COLS = [("qty", "CAST(l_quantity AS BIGINT)"),
                ("lineno", "CAST(l_linenumber AS BIGINT)"),
                ("disc_pct",
                 "CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)"),
                ("tax_pct",
                 "CAST(floor(l_tax * 100.0 + 0.5) AS BIGINT)")]
    _cm_sel = ", ".join(f"{e} AS {n}" for n, e in _CM_COLS)
    _cm_aggs = ["COUNT(*)::BIGINT AS n"]
    _cm_aggs += [f"SUM({n})::BIGINT AS s{i}"
                 for i, (n, _) in enumerate(_CM_COLS)]
    _cm_aggs += [f"SUM({a} * {b})::BIGINT AS s{i}_{j}"
                 for i, (a, _) in enumerate(_CM_COLS)
                 for j, (b, _) in enumerate(_CM_COLS) if j >= i]
    _cm_rows = []
    for i, (a, _) in enumerate(_CM_COLS):
        for j, (b, _) in enumerate(_CM_COLS):
            if j <= i:
                continue
            cov = f"(n * s{i}_{j} - s{i} * s{j})"
            vx = f"(n * s{i}_{i} - s{i} * s{i})"
            vy = f"(n * s{j}_{j} - s{j} * s{j})"
            r = (f"({cov}::DOUBLE / sqrt({vx}::DOUBLE * {vy}::DOUBLE))")
            _cm_rows.append(
                f"SELECT '{a}' AS col_x, '{b}' AS col_y, n AS n_rows, "
                f"{cov}::BIGINT AS cov_num, {vx}::BIGINT AS varx_num, "
                f"{vy}::BIGINT AS vary_num, "
                f"CASE WHEN {vx} > 0 AND {vy} > 0 THEN "
                f"(CASE WHEN ({r}) < 0 THEN -1 ELSE 1 END) * "
                f"floor(abs({r}) * 1000000.0 + 0.5) / 1000000.0 + 0.0 "
                f"END AS corr FROM m")
    out["corr_matrix"] = f"""
        WITH q AS (SELECT {_cm_sel} FROM lineitem),
        m AS MATERIALIZED (SELECT {", ".join(_cm_aggs)} FROM q)
        {" UNION ALL ".join(_cm_rows)}
    """
    # isotonic/PAV: recursive-CTE state machine — each step is ONE
    # action (merge the top two stack blocks on the integer-exact
    # violation test, else consume the next bucket); buckets map back
    # to blocks via cumulative bucket counts. Exact ints throughout,
    # house 6-dp ratio at the end.
    out["isotonic_fit"] = """
        WITH RECURSIVE buckets AS MATERIALIZED (
          SELECT score, COUNT(*)::BIGINT AS n,
                 SUM(CASE WHEN label < 5 THEN 1 ELSE 0 END)::BIGINT
                   AS p,
                 ROW_NUMBER() OVER (ORDER BY score) AS i
          FROM (SELECT least(greatest(CAST(floor(
                    (embedding[1]::DOUBLE + 0.5) * 1000.0 + 0.5)
                    AS BIGINT), 0), 1000) AS score, label
                FROM embeddings)
          GROUP BY score
        ),
        pav AS (
          SELECT 0 AS step, 1::BIGINT AS nxt,
                 CAST([] AS STRUCT(n BIGINT, p BIGINT, c BIGINT)[])
                   AS stk
          UNION ALL
          SELECT step + 1,
                 CASE WHEN s.mg THEN s.nxt ELSE s.nxt + 1 END,
                 CASE WHEN s.mg THEN
                   list_append(s.stk[1:len(s.stk) - 2], struct_pack(
                     n := s.stk[len(s.stk) - 1].n + s.stk[len(s.stk)].n,
                     p := s.stk[len(s.stk) - 1].p + s.stk[len(s.stk)].p,
                     c := s.stk[len(s.stk) - 1].c
                          + s.stk[len(s.stk)].c))
                 ELSE list_append(s.stk,
                   struct_pack(n := b.n, p := b.p, c := 1::BIGINT))
                 END
          FROM (SELECT step, nxt, stk,
                       (len(stk) >= 2 AND
                        stk[len(stk) - 1].p * stk[len(stk)].n
                          > stk[len(stk)].p * stk[len(stk) - 1].n)
                         AS mg
                FROM pav) s
          LEFT JOIN buckets b ON b.i = s.nxt AND NOT s.mg
          WHERE s.mg OR b.i IS NOT NULL
        ),
        fin AS (SELECT stk FROM pav ORDER BY step DESC LIMIT 1),
        bl AS (SELECT unnest(range(1, len(stk) + 1)) AS bi, stk
               FROM fin),
        blocks AS (
          SELECT stk[bi].n AS bn, stk[bi].p AS bp, stk[bi].c AS bc,
                 SUM(stk[bi].c) OVER (ORDER BY bi
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS ccum
          FROM bl
        )
        SELECT bu.score, bu.n, bu.p AS n_pos, blocks.bn AS blk_n,
               blocks.bp AS blk_pos,
               ((2000000 * blocks.bp + blocks.bn)
                // (2 * blocks.bn)) / 1000000.0 AS cal
        FROM buckets bu JOIN blocks
          ON bu.i > blocks.ccum - blocks.bc AND bu.i <= blocks.ccum
    """
    # resample + LOCF: full integer replay — slot = epoch-us floor
    # div, per-slot last = struct max (ts, id, value), carry =
    # IGNORE NULLS running window; values pass through untouched
    out["resample_locf"] = """
        WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, value
                   FROM events WHERE ts IS NOT NULL),
        ps AS (SELECT user_id, us // 21600000000 AS slot,
                      COUNT(*)::BIGINT AS n_obs,
                      (max(struct_pack(u := us, i := event_id,
                                       v := value))).v AS lv
               FROM e GROUP BY 1, 2),
        sp AS (SELECT user_id, MIN(slot) AS s0, MAX(slot) AS s1
               FROM ps GROUP BY 1),
        grid AS (SELECT user_id, unnest(range(s0, s1 + 1)) AS slot
                 FROM sp),
        j AS (SELECT g.user_id, g.slot, ps.n_obs, ps.lv
              FROM grid g LEFT JOIN ps USING (user_id, slot))
        SELECT user_id, make_timestamp(slot * 21600000000) AS slot_ts,
               COALESCE(n_obs, 0)::BIGINT AS n_obs,
               last_value(lv IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY slot
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS value,
               (n_obs IS NULL) AS filled
        FROM j
    """
    # phrase search: INDEPENDENT sliding-window formulation — start
    # positions i where every phrase token matches w[i + j] — against
    # the engine's shifted-postings intersection
    out["phrase_search"] = f"""
        WITH dw AS (SELECT doc_id, {_WORDS} AS w FROM documents),
        m AS (SELECT doc_id,
                     len(list_filter(range(1, len(w)), i ->
                         w[i] = 'table' AND w[i + 1] = 'scan'))::BIGINT
                       AS n_matches
              FROM dw)
        SELECT doc_id, n_matches FROM m WHERE n_matches > 0
        ORDER BY n_matches DESC, doc_id LIMIT 20
    """
    # Naive Bayes confusion: full replay — the model is three count
    # CTEs, scores are exact int64 of micro-int'ed ln() factors, and
    # the argmax tie-break (score desc, label asc) is pinned. The
    # zero-count sparse trick (only c > 0 cells join) mirrors the
    # operator, so both engines sum the identical term set.
    out["nb_confusion"] = f"""
        WITH tok AS MATERIALIZED (
          SELECT doc_id, lang,
                 unnest(list_filter({_WORDS}, x -> x <> '')) AS w
          FROM documents
        ),
        ds AS (
          SELECT doc_id, lang,
                 len(list_filter({_WORDS}, x -> x <> ''))::BIGINT AS t
          FROM documents
        ),
        cls AS (SELECT lang AS l, COUNT(*)::BIGINT AS nd
                FROM documents GROUP BY 1),
        ctok AS (SELECT lang AS l, COUNT(*)::BIGINT AS nt
                 FROM tok GROUP BY 1),
        vsz AS (SELECT COUNT(DISTINCT w)::BIGINT AS v FROM tok),
        dtot AS (SELECT COUNT(*)::BIGINT AS d FROM documents),
        clsf AS (
          SELECT c.l,
                 {_SM.format(x="ln(c.nd::DOUBLE / dtot.d::DOUBLE)")}
                   AS prior_micro,
                 {_SM.format(
                     x="ln((COALESCE(ct.nt, 0) + vsz.v)::DOUBLE)")}
                   AS lnden_micro
          FROM cls c LEFT JOIN ctok ct ON ct.l = c.l, vsz, dtot
        ),
        model AS (SELECT lang AS l, w, COUNT(*)::BIGINT AS c
                  FROM tok GROUP BY 1, 2),
        dw AS (SELECT doc_id, w, COUNT(*)::BIGINT AS n
               FROM tok GROUP BY 1, 2),
        t3 AS (SELECT dw.doc_id, m.l,
                      SUM(dw.n * {_SM.format(
                          x="ln((m.c + 1)::DOUBLE)")})::BIGINT AS s3
               FROM dw JOIN model m USING (w) GROUP BY 1, 2),
        sc AS (SELECT ds.doc_id, ds.lang, cf.l,
                      cf.prior_micro - ds.t * cf.lnden_micro
                        + COALESCE(t3.s3, 0) AS score
               FROM ds CROSS JOIN clsf cf
               LEFT JOIN t3 ON t3.doc_id = ds.doc_id AND t3.l = cf.l),
        pred AS (SELECT doc_id, lang, l,
                        ROW_NUMBER() OVER (PARTITION BY doc_id
                           ORDER BY score DESC, l) AS rn
                 FROM sc)
        SELECT lang AS label, l AS pred_label,
               COUNT(*)::BIGINT AS n_docs
        FROM pred WHERE rn = 1 GROUP BY 1, 2
    """
    # exact Hamming-radius join: the operator's pigeonhole banding is
    # provably complete and exactly filtered, so the oracle is the
    # brute-force ALL-PAIRS definition itself (no algorithm replay).
    # Corpus = embeddings + a sign-perturbed copy (dims 1..vec_id%8
    # negated, id + 1e6; 1e6 % 8 == 0 so the alias ambiguity in the
    # lambda is harmless — written qualified anyway).
    out["hamming_dedup_pairs"] = """
        WITH corpus AS (
          SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
          FROM embeddings
          UNION ALL
          SELECT embeddings.vec_id + 1000000 AS vec_id,
                 list_transform(range(1, 65),
                   j -> CASE WHEN j <= embeddings.vec_id % 8
                             THEN -(embedding[j]::DOUBLE)
                             ELSE embedding[j]::DOUBLE END) AS v
          FROM embeddings
        ),
        words AS (
          SELECT vec_id, (j // 32) AS w,
                 SUM(CASE WHEN v[j + 1] > 0
                          THEN (1::BIGINT << (j % 32))
                          ELSE 0::BIGINT END)::BIGINT AS word
          FROM corpus, unnest(range(0, 64)) AS t(j)
          GROUP BY vec_id, (j // 32)
        ),
        d AS (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                 SUM(bit_count(xor(a.word, b.word)))::BIGINT AS hamming
          FROM words a JOIN words b
            ON a.w = b.w AND a.vec_id < b.vec_id
          GROUP BY 1, 2
        )
        SELECT a_id, b_id, hamming FROM d WHERE hamming <= 8
    """
    # sink round trip: values replay from the fixture arithmetic; the
    # SRID exists only as footer PROJJSON between write and read
    out["geoparquet_roundtrip"] = """
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE 'POINT(' || (c_custkey % 360 - 180)::VARCHAR
                         || ' ' || (c_nationkey * 3 - 37.5)::VARCHAR
                         || ')' END AS wkt_out,
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE 32118 END AS srid
        FROM customer
    """
    # shapefile trio round trip: same fixture arithmetic; yval rides
    # the dBASE NUMERIC text lane (always .5 -> exact at the sink's
    # 6-decimal contract), geometry the .shp IEEE-double lane
    out["shapefile_roundtrip"] = """
        SELECT c_custkey,
               (c_nationkey * 3 - 37.5)::DOUBLE AS yval,
               c_mktsegment AS mktseg,
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE 'POINT(' || (c_custkey % 360 - 180)::VARCHAR
                         || ' ' || (c_nationkey * 3 - 37.5)::VARCHAR
                         || ')' END AS wkt_out
        FROM customer
    """
    out["tokenizer_compare"] = f"""
        SELECT b.lang,
               b.fertility_micro AS bpe_fertility_micro,
               b.coverage_micro AS bpe_coverage_micro,
               CAST(floor(u.fertility * 1000000.0 + 0.5) AS BIGINT)
                 AS uni_fertility_micro,
               b.fertility_micro
                 - CAST(floor(u.fertility * 1000000.0 + 0.5) AS BIGINT)
                 AS delta_micro
        FROM ({out["tokenizer_fertility"]}) b
        JOIN ({out["unigram_fertility"]}) u USING (lang)
    """
    out["distance_spheroid"] = _vincenty_oracle()
    out["mauve_eval"] = _mauve_oracle()
    out["albers_conus"] = _albers_conus_oracle()
    out["laea_europe"] = _laea_europe_oracle()
    out["osgb_grid"] = _osgb_grid_oracle()
    # the 2263 round trip inside the chain perturbs by ~1e-5 m, three
    # orders below the cm rounding: the oracle is the DIRECT mercator
    out["crs_pipeline"] = f"""
        WITH m AS (
          SELECT c_custkey,
                 6378137.0::DOUBLE * (({_NYC_LONLAT[0]})
                    * 0.017453292519943295::DOUBLE) AS x,
                 6378137.0::DOUBLE * ln(tan(0.7853981633974483::DOUBLE
                    + (({_NYC_LONLAT[1]})
                       * 0.017453292519943295::DOUBLE) * 0.5::DOUBLE))
                   AS y
          FROM customer)
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE {_rb2_sql('x')} END AS mx,
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE {_rb2_sql('y')} END AS my,
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    ELSE 3857 END AS srid
        FROM m
    """
    return out


# ------------------------------------------------ rotation dashboard

def rotation_report(repo_dir: str = None) -> dict:
    """Gate-rotation staleness dashboard (r10 verdict item 8): 263
    queries through 50 gate slots means ~5 rounds minimum re-gate
    latency, and a stale block is invisible unless someone unions the
    CORRECTNESS history. This computes that union — per-query LATEST
    driver-checked round from every CORRECTNESS_r*.json — and returns

    * ``histogram``: {round: n_queries whose latest check is round},
    * ``oldest_round`` / ``oldest_queries`` (capped at 40 names),
    * ``never_gated``: declared queries with no CORRECTNESS row yet
      (should be exactly the current round's new queries),
    * ``gate_new``: how many current _FIRST50 slots re-gate the oldest
      block (coverage of the debt by this round's rotation).

    bench.py appends it to PROGRESS.jsonl once per round (kind =
    "rotation_report"), so the driver log shows the debt curve
    instead of the judge discovering it."""
    import glob as _glob
    import json as _json
    import os as _os
    import re as _re
    repo = repo_dir or _os.path.dirname(_os.path.abspath(__file__))
    latest: dict = {}
    for f in sorted(_glob.glob(_os.path.join(repo,
                                             "CORRECTNESS_r*.json"))):
        m = _re.search(r"_r(\d+)\.json$", f)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = _json.load(open(f))
        except Exception:
            continue
        for name in rows:
            latest[name] = max(latest.get(name, 0), rnd)
    declared = list(queries())
    hist: dict = {}
    for name in declared:
        if name in latest:
            hist[latest[name]] = hist.get(latest[name], 0) + 1
    never = [n for n in declared if n not in latest]
    oldest = min(hist) if hist else None
    oldest_q = sorted(n for n in declared
                      if latest.get(n) == oldest)[:40] if oldest else []
    gate_new = sum(1 for n in _FIRST50
                   if n in never or latest.get(n) == oldest)
    return {"kind": "rotation_report",
            "declared": len(declared),
            "histogram": {str(k): v for k, v in sorted(hist.items())},
            "oldest_round": oldest,
            "oldest_queries": oldest_q,
            "never_gated": never,
            "gate_oldest_or_new_slots": gate_new}
