"""Deterministic geometry fixtures derived from the driver's tables.

Each derivation is pure column arithmetic, so a DuckDB oracle can compute
the same geometry analytically (FIXTURES.md §2). The linestring generator
is the reference's own: (k,k+1) → (k+2,k+3) → (k+4,k+5)
(/root/reference/src/function/intersects.rs:181-189,
/root/reference/benches/util.rs:27-36).

Null convention (FIXTURES.md §2): ``geom`` is NULL when the primary key is
divisible by 7 — exercises null-in → null-out end to end (SURVEY.md §1.2).

Scale notes: the geometry column is constructed JVM-side as a WKT string
(native concat — pushdown-friendly) and crosses into Python exactly once
per query via ``ST_GeomFromText``/``ST_Point``. Numeric x/y columns stay on
the DataFrame so bbox prefilters can run natively without decoding WKB.
"""

from __future__ import annotations

import hashlib
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, TimestampNTZType

from ..functions import box2d, st_geomfromtext, st_point

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# ---- opt-in fixture cache (bench only) --------------------------------
# The reference's criterion bench pre-builds its geometry MemTable outside
# the timed loop (/root/reference/benches/util.rs:45-62) and times only
# the query. enable_cache() gives the Spark bench the same shape: derived
# fixture DataFrames are persisted in memory so repeated bench iterations
# measure operator work, not fixture re-construction. Off by default —
# production pipelines stream their inputs.
_CACHE_ENABLED = False
_CACHE: dict = {}


def enable_cache() -> None:
    global _CACHE_ENABLED
    _CACHE_ENABLED = True


def _memo(key, build):
    if not _CACHE_ENABLED:
        return build()
    df = _CACHE.get(key)
    if df is None:
        df = build().persist()
        _CACHE[key] = df
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _events_conf(spark: SparkSession) -> None:
    """Session conf the events family relies on. nanosAsLong lets a
    TIMESTAMP(NANOS)-encoded fixture load at all (Spark 4's parquet
    reader rejects it otherwise); UTC pins truncation / epoch extraction
    so results are byte-identical to the DuckDB oracle (which treats
    parquet naive timestamps as-if-UTC) regardless of host timezone.

    DELIBERATE GLOBAL SIDE EFFECT: the session timezone stays UTC for
    the rest of the session (it cannot be scoped to one lazy query —
    execution happens at action time). This engine's contract is
    UTC-everywhere; callers needing another display zone should convert
    at the edge (from_utc_timestamp) rather than re-pin the session."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _normalize_event_ts(ev: DataFrame) -> DataFrame:
    """Schema-adaptive event-time normalization → ``ts: TIMESTAMP``.

    The events fixture has shipped with three different physical
    encodings across driver versions; adapt to whatever was stored
    instead of hard-coding one (the round-2 regression):
      * int64 (TIMESTAMP(NANOS) read via nanosAsLong) → integer-divide
        to micros (never through double: precision loss above 2^53);
      * TIMESTAMP_NTZ (micros, no UTC flag — current fixtures) → cast,
        identity under the UTC session timezone set by _events_conf;
      * TIMESTAMP → already usable.
    """
    dt = ev.schema["ts"].dataType
    if isinstance(dt, LongType):
        return ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, TimestampNTZType):
        return ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return ev


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts`` normalized to a proper TIMESTAMP column,
    whatever the parquet file stored (see _normalize_event_ts)."""
    _events_conf(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return _normalize_event_ts(ev)


def _symlink_dir(file_path: str) -> str:
    """Directory (under the repo's .cache) containing a symlink to the
    given file — makes a single read-only file consumable by the
    directory-based file stream source."""
    root = os.path.join(os.path.dirname(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))), ".cache", "streams")
    key = hashlib.md5(file_path.encode()).hexdigest()[:12]
    d = os.path.join(root, key)
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, os.path.basename(file_path))
    if not os.path.islink(link):
        os.symlink(file_path, link)
    return d


def load_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of :func:`load_events`: file-stream source over the
    events fixture with the SAME schema-adaptive ``ts`` normalization.
    The file source needs an explicit schema — take it from a batch read
    of the same file (footer-only, no data scan), so the stream always
    matches what is physically stored instead of assuming an encoding."""
    _events_conf(spark)
    stream_dir = _symlink_dir(f"{sf_dir}/events.parquet")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    return _normalize_event_ts(stream)


def load_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the documents table: file-stream source over
    the fixture parquet (schema from a footer-only batch read), for the
    curate-as-you-ingest operators (streaming/curate.py)."""
    stream_dir = _symlink_dir(f"{sf_dir}/documents.parquet")
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    return spark.readStream.schema(schema).parquet(stream_dir)


def load_embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the embeddings table (schema from a
    footer-only batch read) — for the streaming Gram/PCA monitor
    (streaming/score.py streaming_pca)."""
    stream_dir = _symlink_dir(f"{sf_dir}/embeddings.parquet")
    schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
    return spark.readStream.schema(schema).parquet(stream_dir)


def load_tables(spark: SparkSession, sf_dir: str) -> dict:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def _null_unless(cond_keep, col):
    return F.when(cond_keep, col)  # otherwise NULL


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition of a narrow projection to default
    parallelism. The driver's test parquet ships ONE row group per file,
    so the scan cannot split — without this every pandas-UDF kernel would
    run in a single task. At production scale (many files / row groups)
    the scan parallelizes natively and this becomes a no-op-sized shuffle
    of a few numeric columns, placed BEFORE geometry construction so the
    expensive Python work is always spread across all cores."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def _spread_stream(df: DataFrame) -> DataFrame:
    """Streaming twin of :func:`_spread`: round-robin repartition of a
    narrow stream projection to default parallelism, placed BEFORE a
    heavy per-row projection. The fixture stream dirs hold ONE parquet
    file, so the file-stream source yields ONE input partition and any
    expensive row map runs serially (streaming_wer measured 17.6 s vs
    1.2 s for the identical batch projection — r11). A streaming frame
    exposes no partition count, so the repartition is unconditional;
    callers pass only the columns the projection needs, and the global
    aggregate above it partial-aggregates per partition either way."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


def points_lineitem(spark: SparkSession, sf_dir: str,
                    with_nulls: bool = True) -> DataFrame:
    """Integer-grid points from lineitem: x = l_orderkey%1000,
    y = l_partkey%1000 (~600k rows at sf0.1 — the bench table,
    BASELINE.md). Columns: l_orderkey, l_linenumber, x, y, geom."""
    return _memo(("points_lineitem", sf_dir, with_nulls),
                 lambda: _points_lineitem(spark, sf_dir, with_nulls))


def _points_lineitem(spark, sf_dir, with_nulls):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.select(
        "l_orderkey", "l_linenumber",
        (F.col("l_orderkey") % 1000).cast("double").alias("x"),
        (F.col("l_partkey") % 1000).cast("double").alias("y"),
    )
    df = _spread(df)
    geom = st_point(F.col("x"), F.col("y"))
    if with_nulls:
        geom = _null_unless(F.col("l_orderkey") % 7 != 0, geom)
    return df.withColumn("geom", geom)


def points_customer(spark: SparkSession, sf_dir: str,
                    with_nulls: bool = True,
                    with_bbox: bool = False) -> DataFrame:
    """Points (c_custkey%360-180, c_nationkey*3-37.5) with group key
    c_mktsegment — the grouped-extent fixture mirroring the reference's
    aggregate test groups (/root/reference/src/function/extent.rs:172-205).
    ``with_bbox`` (r11) attaches xmin..ymax via the fused
    st_point_with_bbox kernel — ONE Python crossing instead of the
    chained st_point → Box2D pair (the lines_orders with_bbox
    pattern), identical values (a point's bbox is its coordinates)."""
    return _memo(("points_customer", sf_dir, with_nulls, with_bbox),
                 lambda: _points_customer(spark, sf_dir, with_nulls,
                                          with_bbox))


def _points_customer(spark, sf_dir, with_nulls, with_bbox=False):
    c = load_table(spark, sf_dir, "customer")
    df = c.select(
        "c_custkey", "c_mktsegment",
        (F.col("c_custkey") % 360 - 180).cast("double").alias("x"),
        (F.col("c_nationkey") * 3 - 37.5).cast("double").alias("y"),
    )
    df = _spread(df)
    keep = F.col("c_custkey") % 7 != 0
    if with_bbox:
        from ..functions import st_point_with_bbox
        gb = st_point_with_bbox(F.col("x"), F.col("y"))
        if with_nulls:
            gb = _null_unless(keep, gb)
        df = df.withColumn("_gb", gb)
        return df.select("c_custkey", "c_mktsegment", "x", "y",
                         "_gb.geom", "_gb.xmin", "_gb.ymin",
                         "_gb.xmax", "_gb.ymax")
    geom = st_point(F.col("x"), F.col("y"))
    if with_nulls:
        geom = _null_unless(keep, geom)
    return df.withColumn("geom", geom)


def lines_orders(spark: SparkSession, sf_dir: str,
                 with_nulls: bool = True,
                 with_bbox: bool = False) -> DataFrame:
    """3-point linestrings along y=x+1 from k = o_orderkey%1000 — the
    reference's generator (/root/reference/benches/util.rs:27-36).
    Columns: o_orderkey, k, wkt, geom [+ xmin,ymin,xmax,ymax when
    ``with_bbox`` — fused single-crossing construction; spatial joins
    then skip their Box2D Python pass entirely]."""
    return _memo(("lines_orders", sf_dir, with_nulls, with_bbox),
                 lambda: _lines_orders(spark, sf_dir, with_nulls, with_bbox))


def _lines_orders(spark, sf_dir, with_nulls, with_bbox=False):
    o = load_table(spark, sf_dir, "orders")
    df = o.select("o_orderkey", (F.col("o_orderkey") % 1000).alias("k"))
    k = F.col("k")
    wkt = F.concat(
        F.lit("LINESTRING("),
        k.cast("string"), F.lit(" "), (k + 1).cast("string"), F.lit(","),
        (k + 2).cast("string"), F.lit(" "), (k + 3).cast("string"), F.lit(","),
        (k + 4).cast("string"), F.lit(" "), (k + 5).cast("string"), F.lit(")"),
    )
    # spread first (ints only cross the shuffle), THEN build the WKT —
    # the single-row-group scan stage must not also do the string work
    df = _spread(df).withColumn("wkt", wkt)
    keep = F.col("o_orderkey") % 7 != 0
    if with_bbox:
        from ..functions import st_geom_with_bbox_from_text
        gb = st_geom_with_bbox_from_text(F.col("wkt"))
        if with_nulls:
            gb = _null_unless(keep, gb)
        df = df.withColumn("_gb", gb)
        return df.select("o_orderkey", "k", "wkt", "_gb.geom",
                         "_gb.xmin", "_gb.ymin", "_gb.xmax", "_gb.ymax")
    geom = st_geomfromtext(F.col("wkt"))
    if with_nulls:
        geom = _null_unless(keep, geom)
    return df.withColumn("geom", geom)


# DuckDB-side expression for the same linestring WKT (oracle building block)
LINES_ORDERS_WKT_SQL = (
    "'LINESTRING(' || CAST(k AS VARCHAR) || ' ' || CAST(k+1 AS VARCHAR) || ',' "
    "|| CAST(k+2 AS VARCHAR) || ' ' || CAST(k+3 AS VARCHAR) || ',' "
    "|| CAST(k+4 AS VARCHAR) || ' ' || CAST(k+5 AS VARCHAR) || ')'"
)


def lines_part(spark: SparkSession, sf_dir: str,
               with_bbox: bool = False) -> DataFrame:
    """Slope −1 linestrings from part: m = p_partkey % 1000, points
    (m, m+4) → (m+2, m+2) → (m+4, m), i.e. y = 2m+4−x on x∈[m, m+4].
    Crosses the slope +1 ``lines_orders`` family iff m−k ∈ {−1,0,1,2}
    (intersection x0 = m+1.5 must fall in [k, k+4]) — analytically
    checkable by the oracle. Columns: p_partkey, m, geom
    [+ xmin..ymax when ``with_bbox``]."""
    return _memo(("lines_part", sf_dir, with_bbox),
                 lambda: _lines_part(spark, sf_dir, with_bbox))


def _lines_part(spark, sf_dir, with_bbox=False):
    p = load_table(spark, sf_dir, "part")
    df = p.select("p_partkey", (F.col("p_partkey") % 1000).alias("m"))
    m = F.col("m")
    wkt = F.concat(
        F.lit("LINESTRING("),
        m.cast("string"), F.lit(" "), (m + 4).cast("string"), F.lit(","),
        (m + 2).cast("string"), F.lit(" "), (m + 2).cast("string"), F.lit(","),
        (m + 4).cast("string"), F.lit(" "), m.cast("string"), F.lit(")"),
    )
    df = _spread(df).withColumn("wkt", wkt)
    if with_bbox:
        from ..functions import st_geom_with_bbox_from_text
        df = df.withColumn("_gb", st_geom_with_bbox_from_text(F.col("wkt")))
        return df.select("p_partkey", "m", "_gb.geom",
                         "_gb.xmin", "_gb.ymin", "_gb.xmax", "_gb.ymax")
    return df.withColumn("geom", st_geomfromtext(F.col("wkt"))).drop("wkt")


def embeddings_normed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings in the prenormed contract (vec_id, v double[], n) —
    cast + norm computed once and memoized under the bench cache, so
    repeated searches time the scoring join, not corpus re-preparation
    (operators.similarity.prenorm). Mirrors how a production deployment
    stores norms alongside the vectors."""
    from ..operators.similarity import prenorm
    return _memo(("embeddings_normed", sf_dir),
                 lambda: prenorm(_spread(load_table(spark, sf_dir,
                                                    "embeddings"))))


def boxes_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Envelopes (n_nationkey, n_regionkey) .. (+5, +5) over the 25-row
    nation table — the broadcastable probe side for spatial joins
    (FIXTURES.md §2). Columns: n_nationkey, n_regionkey, xmin..ymax, geom."""
    return _memo(("boxes_nation", sf_dir),
                 lambda: _boxes_nation(spark, sf_dir))


def _boxes_nation(spark, sf_dir):
    from ..functions import st_makeenvelope
    n = load_table(spark, sf_dir, "nation")
    df = n.select(
        "n_nationkey", "n_regionkey",
        F.col("n_nationkey").cast("double").alias("xmin"),
        F.col("n_regionkey").cast("double").alias("ymin"),
        (F.col("n_nationkey") + 5).cast("double").alias("xmax"),
        (F.col("n_regionkey") + 5).cast("double").alias("ymax"),
    )
    return df.withColumn(
        "geom", st_makeenvelope(F.col("xmin"), F.col("ymin"),
                                F.col("xmax"), F.col("ymax")))


def register_fixture_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture parquet as a temp view (plus the derived
    geometry tables ``points_li``, ``points_cust``, ``lines``) so a
    SQL-first user can ``register_all(spark)`` and work entirely in
    ``spark.sql`` — the engine's full surface without touching the
    Python API. ``events`` goes through load_events (NOT a bare
    load_table) so the view carries the schema-adaptive ts
    normalization and the UTC session pin every other events consumer
    gets — a raw read would even fail outright on the NANOS-encoded
    fixture variant."""
    for t in TABLES:
        if t == "events":
            load_events(spark, sf_dir).createOrReplaceTempView(t)
        else:
            load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    points_lineitem(spark, sf_dir).createOrReplaceTempView("points_li")
    points_customer(spark, sf_dir).createOrReplaceTempView("points_cust")
    lines_orders(spark, sf_dir).createOrReplaceTempView("lines")
