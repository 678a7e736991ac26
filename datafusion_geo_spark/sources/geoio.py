"""Geometry I/O: sources and sinks beyond plain parquet reads.

The reference delegates all I/O to its host engine and only ever uses
in-memory tables (SURVEY.md §2 "Scans/sources/sinks — HOST"); the Spark
build inherits every Spark source/sink. This module adds the
geo-specific shapes pipelines actually need:

* **WKT text ingestion** — CSV/JSONL land geometry as WKT strings;
  ``read_wkt_csv`` parses them into the engine's WKB Binary convention
  in one pass.
* **GeoJSON lines** — ``read_geojsonl``/``write_geojsonl``, one RFC 7946
  Feature per line.
* **Standard GeoParquet 1.1** — ``write_geoparquet_std`` stamps the
  spec's ``geo`` key into every file footer (with the file's own bbox),
  optionally persists a ``bbox`` covering column, and writes a
  ``_geo_manifest.json`` of per-file bboxes. ``read_geoparquet_std``
  with ``bbox=`` skips files whose bbox misses the window and turns the
  window into a range filter on the covering column, pushed to parquet
  row-group statistics. Row clustering is the caller's choice (e.g.
  ``operators.layout.zorder_layout`` before the write).
"""

from __future__ import annotations

import glob
import json
import os
from typing import Optional, Tuple

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions import box2d, st_geomfromtext
from ..geo.proj import CRS_META, projjson


def read_wkt_csv(spark: SparkSession, path: str, wkt_col: str = "wkt",
                 geom_col: str = "geom", header: bool = True,
                 drop_wkt: bool = True) -> DataFrame:
    """CSV with a WKT column → DataFrame with a parsed WKB geometry
    column (invalid WKT raises inside the kernel, mirroring the
    reference's eager validation, builder.rs:97-110)."""
    df = spark.read.option("header", header).csv(path)
    out = df.withColumn(geom_col, st_geomfromtext(F.col(wkt_col)))
    return out.drop(wkt_col) if drop_wkt else out


def read_geojsonl(spark: SparkSession, path: str, geom_col: str = "geom",
                  properties_schema: Optional[str] = None) -> DataFrame:
    """Newline-delimited GeoJSON source: each line is an RFC 7946
    Feature (or a bare geometry object). The geometry member is
    extracted JVM-side (``get_json_object`` — no Python until the
    single parse kernel) and decoded to canonical (E)WKB via
    ST_GeomFromGeoJSON; a Feature's ``properties`` object rides along
    as a JSON string, or — with ``properties_schema`` (a DDL string,
    e.g. ``"name string, pop long"``) — is expanded into typed columns
    via the native ``from_json``.

    Scale: spark.read.text splits large files by line ranges, both JSON
    extractions and from_json are WholeStageCodegen expressions, and the
    one pandas-UDF crossing is the same Arrow-batched kernel every other
    ingest path uses. A Feature with ``"geometry": null`` yields a NULL
    geometry row (kept — the caller decides); a malformed geometry
    raises loudly in the kernel (eager validation, builder.rs:97-110)."""
    from ..functions import st_geomfromgeojson
    t = spark.read.text(path).where(F.length(F.trim("value")) > 0)
    v = F.col("value")
    is_feature = F.get_json_object(v, "$.type") == "Feature"
    geo_src = F.when(is_feature, F.get_json_object(v, "$.geometry")) \
               .otherwise(v)
    out = t.select(
        st_geomfromgeojson(geo_src).alias(geom_col),
        F.get_json_object(v, "$.properties").alias("properties_json"))
    if properties_schema is not None:
        props = F.from_json(F.col("properties_json"), properties_schema)
        out = out.select(geom_col, "properties_json", props.alias("_p")) \
                 .select(geom_col, "_p.*")
    return out


def write_geojsonl(df: DataFrame, path: str, geom_col: str = "geom",
                   mode: str = "overwrite") -> None:
    """Newline-delimited GeoJSON sink: every row becomes one Feature
    line — geometry via ST_AsGeoJSON, every other column packed into
    ``properties`` with the native ``to_json(struct(...))``. NULL
    geometries serialize as ``"geometry":null`` (valid per RFC 7946).
    All string assembly is JVM expressions; the write parallelism is the
    frame's partitioning (one part-file per task, same as any text
    sink)."""
    from ..functions import st_asgeojson
    prop_cols = [c for c in df.columns if c != geom_col]
    props = (F.to_json(F.struct(*[F.col(c) for c in prop_cols]))
             if prop_cols else F.lit("{}"))
    line = F.concat(
        F.lit('{"type":"Feature","geometry":'),
        F.coalesce(st_asgeojson(F.col(geom_col)), F.lit("null")),
        F.lit(',"properties":'), props, F.lit("}"))
    df.select(line.alias("value")).write.mode(mode).text(path)


# ------------------------------------------- GeoParquet (standard)

#: GeoParquet spec version written into the ``geo`` footer key.
GEOPARQUET_VERSION = "1.1.0"

_BBOX = ("xmin", "ymin", "xmax", "ymax")


def _geo_key(geom_col: str, types, srids, bbox, crs_projjson: Optional[dict],
             covering: bool) -> dict:
    """The ``geo`` metadata of one file or of the whole dataset, from
    its geometry-type names, its non-zero SRIDs and its bbox (None when
    it holds no non-NULL geometry). Engine type names are PostGIS-style
    (``ST_Point``) and become spec names (``Point``). Without
    ``crs_projjson``, a registry PROJJSON is stamped iff the SRIDs are
    one registered non-4326 code; mixed or unregistered SRIDs write no
    ``crs`` (the spec default OGC:CRS84)."""
    col = {"encoding": "WKB",
           "geometry_types": sorted(t[3:] if t.startswith("ST_") else t
                                    for t in types)}
    if bbox is not None:
        col["bbox"] = list(bbox)
    if covering:
        col["covering"] = {"bbox": {c: ["bbox", c] for c in _BBOX}}
    srids = sorted(srids)
    if crs_projjson is not None:
        col["crs"] = crs_projjson
    elif len(srids) == 1 and srids[0] != 4326 and srids[0] in CRS_META:
        col["crs"] = projjson(srids[0])
    return {"version": GEOPARQUET_VERSION, "primary_column": geom_col,
            "columns": {geom_col: col}}


def write_geoparquet_std(df: DataFrame, path: str,
                         geom_col: str = "geom",
                         mode: str = "overwrite",
                         crs_projjson: Optional[dict] = None,
                         covering: bool = False) -> dict:
    """Standard GeoParquet sink: every data file carries the spec's
    ``geo`` key in its parquet footer metadata, so external readers
    (GDAL >= 3.5, geopandas.read_parquet) auto-discover the geometry
    column — Spark's native parquet writer cannot attach file-level
    key-value metadata.

    Spark-first mechanics: geometry is re-encoded to ISO WKB (EWKB SRID
    header stripped — the spec carries CRS in metadata, not per-value)
    and the files are written by pyarrow INSIDE ``mapInArrow`` tasks —
    one file per partition, no driver collect, the exact DataSource-V2
    writer shape. Each task computes the ISO re-encode and the ``geo``
    statistics (geometry types, SRIDs, bbox) from each Arrow batch's
    geometry column with the engine's own kernels, in the same Python
    worker that writes the file, and aggregates them into the task
    report row — one corpus pass, one Python crossing. Each task
    buffers its partition's Arrow batches to stamp the file's OWN
    ``geo`` (types, bbox and, without ``crs_projjson``, a registry crs
    iff the file's SRIDs allow one) into its footer: pyarrow fixes the
    footer metadata at writer-open, so a one-partition buffer — bounded
    by spark.sql.files.maxPartitionBytes upstream — is the cost of
    per-file pruning metadata. The dataset-level ``geo`` is assembled
    driver-side from the reports. Paths are task-local writes to a
    shared filesystem (local/NFS/fuse mounts; an object store would
    swap the open() for fsspec — the task structure is unchanged).

    Commit protocol: each task writes
    ``part-<partitionId>.parquet.<attemptId>.tmp`` and atomically
    renames to the deterministic ``part-<partitionId>.parquet`` only
    after its writer closes — a retried attempt OVERWRITES its
    predecessor instead of adding an orphan duplicate, a failed task
    leaves only ``*.tmp`` debris the reader's ``*.parquet`` glob
    ignores, and concurrent speculative attempts race to rename
    byte-identical files (partitions are deterministic), so read-back
    row counts are exact in every case.

    ``crs_projjson`` is embedded verbatim under ``columns.<geom>.crs``
    (omit for the spec default OGC:CRS84 = WGS84 lon/lat). When it is
    omitted and every geometry carries the SAME registered non-4326
    SRID, the PROJJSON comes from the engine's CRS registry
    (``geo.proj.projjson``); see ``_geo_key``. Returns the dataset-level
    ``geo`` metadata dict that was written.

    ``covering=True`` additionally persists a ``bbox`` struct column
    (xmin/ymin/xmax/ymax doubles) and declares it under
    ``columns.<geom>.covering.bbox`` — the GeoParquet 1.1 "covering"
    mechanism. This is the ROW-GROUP-scale pruning path: parquet
    min/max statistics on the struct children let any reader (and
    ``read_geoparquet_std``'s bbox filter) skip row groups, the layer
    below the per-FILE footer-bbox pruning.
    """
    import shutil

    from pyspark.sql.pandas.types import to_arrow_schema

    from ..functions import st_setsrid

    if mode == "overwrite" and os.path.isdir(path):
        shutil.rmtree(path)
    elif mode == "error" and os.path.exists(path):
        raise ValueError(f"write_geoparquet_std: path exists: {path}")
    os.makedirs(path, exist_ok=True)

    # the written schema: ISO geometry, then the covering column
    out = df.withColumn(geom_col, st_setsrid(F.col(geom_col), 0))
    if covering:  # persisted covering column, spec field names
        bx = box2d(F.col(geom_col))
        out = out.withColumn("bbox", F.struct(
            *[bx[c].alias(c) for c in _BBOX]))
    schema = to_arrow_schema(out.schema)

    def _iso_batch(batch):
        """The batch as written (ISO geometry, covering bbox) and its
        bbox, geometry-type names and non-zero SRIDs."""
        import pandas as pd
        import pyarrow as pa

        from ..functions import kernels
        g = batch.column(geom_col).to_pandas()
        srids = {s for s in kernels.srid(g) if s is not None and s != 0}
        iso = kernels.set_srid(g, pd.Series(0, index=g.index))
        bb = kernels.box2d_rows(iso).astype(float)
        types = {t for t in kernels.geometry_type(iso) if t is not None}
        fields, cols = [], []
        for f in schema:
            if f.name == geom_col:
                cols.append(pa.array(iso, f.type, from_pandas=True))
            elif covering and f.name == "bbox":
                cols.append(pa.StructArray.from_arrays(
                    [pa.array(bb[c], pa.float64(), from_pandas=True)
                     for c in _BBOX], fields=list(f.type)))
            else:  # passed through as Spark delivered it
                f = batch.schema.field(f.name)
                cols.append(batch.column(f.name))
            fields.append(f)
        return (pa.RecordBatch.from_arrays(
                    cols, schema=pa.schema(fields, batch.schema.metadata)),
                [bb[c].min() for c in _BBOX[:2]]
                + [bb[c].max() for c in _BBOX[2:]], types, srids)

    def _write(batches):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext
        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else 0
        att = tc.taskAttemptId() if tc is not None else 0
        final = os.path.join(path, f"part-{pid:05d}.parquet")
        tmp = f"{final}.{att}.tmp"
        chunks = []
        n = 0
        fb = [None, None, None, None]  # file bbox accumulators
        ftypes: set = set()            # file geometry-type names
        fsrids: set = set()            # file SRID set (non-null)
        for batch in batches:
            iso, bb, types, srids = _iso_batch(batch)
            for j, v in enumerate(bb):
                if v == v:  # NaN when the batch has no non-empty geometry
                    fb[j] = float(v) if fb[j] is None else \
                        (min if j < 2 else max)(fb[j], float(v))
            ftypes |= types
            fsrids |= srids
            chunks.append(iso)
            n += batch.num_rows
        if chunks:
            # Per-file crs is stamped only when THIS file's SRIDs allow
            # one, so in a mixed-SRID dataset different files can carry
            # divergent crs footers (each true of its own file, per
            # spec); the dataset-level decision lives in the manifest,
            # which this engine's reader prefers.
            fgeo = _geo_key(geom_col, ftypes, fsrids,
                            fb if fb[0] is not None else None,
                            crs_projjson, covering)
            table = pa.Table.from_batches(chunks)
            table = table.replace_schema_metadata(
                {**(chunks[0].schema.metadata or {}),
                 b"geo": json.dumps(fgeo, sort_keys=True).encode("utf-8")})
            pq.write_table(table, tmp)
            os.replace(tmp, final)  # atomic per-task commit
            yield pa.RecordBatch.from_pydict(
                {"file": pa.array([os.path.basename(final)]),
                 "rows": pa.array([n], type=pa.int64()),
                 "xmin": pa.array([fb[0]], type=pa.float64()),
                 "ymin": pa.array([fb[1]], type=pa.float64()),
                 "xmax": pa.array([fb[2]], type=pa.float64()),
                 "ymax": pa.array([fb[3]], type=pa.float64()),
                 "types": pa.array([sorted(ftypes)],
                                   type=pa.list_(pa.string())),
                 "srids": pa.array([sorted(fsrids)],
                                   type=pa.list_(pa.int64()))})

    written = df.mapInArrow(
        _write, "file string, rows long, xmin double, ymin double, "
                "xmax double, ymax double, types array<string>, "
                "srids array<long>").collect()
    xs = [r for r in written if r["xmin"] is not None]
    geo = _geo_key(
        geom_col, {t for r in written for t in (r["types"] or [])},
        {s for r in written for s in (r["srids"] or [])},
        ([min(r["xmin"] for r in xs), min(r["ymin"] for r in xs),
          max(r["xmax"] for r in xs), max(r["ymax"] for r in xs)]
         if xs else None),
        crs_projjson, covering)
    if not written:  # empty input: still emit one all-metadata file
        import pyarrow.parquet as pq
        empty = schema.with_metadata(
            {b"geo": json.dumps(geo, sort_keys=True).encode("utf-8")})
        pq.write_table(empty.empty_table(),
                       os.path.join(path, "part-00000.parquet"))
    # Dataset manifest sidecar (underscore-prefixed → invisible to
    # parquet dataset readers): per-file rows + bbox collected from
    # the task reports, so a windowed read prunes from ONE small JSON
    # instead of N footer reads — the catalog-scale path for datasets
    # with many files (the footer loop stays as the fallback for
    # datasets written by other tools). Dict-keyed by file name: a
    # speculative duplicate success reports the same name twice with
    # identical content, so last-wins is exact.
    manifest = {
        "geo": geo,
        "files": ({r["file"]: {
            "rows": int(r["rows"]),
            "bbox": ([r["xmin"], r["ymin"], r["xmax"], r["ymax"]]
                     if r["xmin"] is not None else None)}
            for r in written} if written
            else {"part-00000.parquet": {"rows": 0, "bbox": None}})}
    mtmp = os.path.join(path, "_geo_manifest.json.tmp")
    with open(mtmp, "w", encoding="utf-8") as fh:
        json.dump(manifest, fh, sort_keys=True)
    os.replace(mtmp, os.path.join(path, "_geo_manifest.json"))
    return geo


def _footer_geo(f: str) -> Optional[dict]:
    """The ``geo`` key of one parquet file's footer, or None."""
    import pyarrow.parquet as pq
    md = pq.read_schema(f).metadata or {}
    return json.loads(md[b"geo"].decode("utf-8")) if b"geo" in md else None


def _dataset_meta(path: str):
    """``(geo, files, entries)`` of a GeoParquet dataset: the data files
    (``*.parquet``, sorted), the dataset-level ``geo`` and the per-file
    ``{rows, bbox}`` entries of the sink's ``_geo_manifest.json``.

    The manifest is trusted only while its file-name set matches the
    directory's actual ``*.parquet`` listing — files added or removed by
    other tools otherwise let a stale sidecar silently shadow the real
    footers. (A same-name in-place rewrite is undetectable from names
    alone and remains the documented limitation of any sidecar
    catalog.) A missing, corrupt or stale manifest gives ``entries``
    None and ``geo`` from the first data file's footer (the spec
    requires every file to carry the key); ``geo`` is None when the
    dataset has no GeoParquet metadata anywhere."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    try:
        with open(os.path.join(path, "_geo_manifest.json"),
                  encoding="utf-8") as fh:
            m = json.load(fh)
        if set(m.get("files") or {}) != {os.path.basename(f)
                                         for f in files}:
            m = {}  # stale sidecar → footer fallback
    except (OSError, ValueError, AttributeError, TypeError):
        m = {}  # missing or corrupt sidecar → footer fallback
    geo = m.get("geo")
    if geo is None and files:
        geo = _footer_geo(files[0])
    return geo, files, m.get("files")


def geoparquet_metadata(path: str) -> Optional[dict]:
    """Read back the DATASET-level ``geo`` metadata of a GeoParquet
    dataset. Preferred source: the sink's ``_geo_manifest.json``
    sidecar, whose ``geo`` key is assembled from every task's stats —
    per-FILE footers carry the file's OWN geometry_types/bbox (and a
    crs only when that file's SRIDs allow one), so the manifest is the
    authoritative dataset view. Fallback for datasets written by other
    tools, or when the manifest is stale (see ``_dataset_meta``): the
    first data file's footer. None when the dataset has no GeoParquet
    metadata anywhere. NOTE: on the footer-fallback path ``bbox`` is
    that FILE's bbox; for the dataset extent, aggregate the per-file
    bboxes (as ``read_geoparquet_std``'s pruning does)."""
    return _dataset_meta(path)[0]


def read_geoparquet_std(spark: SparkSession, path: str,
                        set_srid: bool = True,
                        bbox: Optional[Tuple[float, float, float,
                                             float]] = None) -> DataFrame:
    """Read a standard-GeoParquet dataset with ``geo``-footer
    auto-discovery: plain spark.read.parquet, plus — when the primary
    column's PROJJSON ``crs`` carries an EPSG id and ``set_srid`` —
    the geometry column re-stamped with that SRID (EWKB), restoring
    what the spec's ISO-WKB value encoding intentionally strips.
    Datasets without the footer key read back unchanged, so this is a
    drop-in for spark.read.parquet on any parquet directory.

    With ``bbox=(xmin, ymin, xmax, ymax)``, files whose bbox does not
    intersect the window are PRUNED from the scan — the sink stamps
    each file's own bbox. When the sink's ``_geo_manifest.json``
    sidecar is current the per-file bboxes come from that ONE file (the
    catalog-scale path — no per-file footer reads at 100k files);
    otherwise footer reads are metadata-only (no data pages). Files
    without a bbox anywhere are conservatively kept. When the dataset
    declares a 1.1 ``covering`` bbox column, the window additionally
    becomes a row-level range filter on it — pushed to parquet column
    statistics for row-group skipping (NULL-geometry rows are dropped
    by it, like any bbox candidate filter). Without a covering, the
    result contains every row of the surviving files — apply the exact
    spatial predicate on top, same as any stats-pruned scan."""
    geo, files, entries = _dataset_meta(path)
    pcol = (geo or {}).get("primary_column")
    gcol = ((geo or {}).get("columns", {}).get(pcol) or {})
    if bbox is not None and geo:
        qx0, qy0, qx1, qy1 = (float(v) for v in bbox)

        def _file_bbox(f):
            if entries is not None:
                return entries[os.path.basename(f)].get("bbox")
            return ((_footer_geo(f) or {}).get("columns", {})
                    .get(pcol) or {}).get("bbox")

        kept = []
        for f in files:
            fb = _file_bbox(f)
            if fb is None or not (fb[2] < qx0 or fb[0] > qx1
                                  or fb[3] < qy0 or fb[1] > qy1):
                kept.append(f)
        if not kept:  # nothing intersects: empty frame, same schema
            return spark.read.parquet(path).where(F.lit(False))
        df = spark.read.parquet(*kept)
        cov = (gcol.get("covering") or {}).get("bbox")
        if cov:
            cx0, cy0 = ".".join(cov["xmin"]), ".".join(cov["ymin"])
            cx1, cy1 = ".".join(cov["xmax"]), ".".join(cov["ymax"])
            df = df.where((F.col(cx0) <= qx1) & (F.col(cx1) >= qx0)
                          & (F.col(cy0) <= qy1) & (F.col(cy1) >= qy0))
    else:
        df = spark.read.parquet(path)
    if not geo or not set_srid:
        return df
    crs = gcol.get("crs")
    code = None
    if isinstance(crs, dict):
        ident = crs.get("id") or {}
        if ident.get("authority") == "EPSG":
            code = ident.get("code")
    if pcol in df.columns and code:
        from ..functions import st_setsrid
        df = df.withColumn(pcol, st_setsrid(F.col(pcol), int(code)))
    return df
