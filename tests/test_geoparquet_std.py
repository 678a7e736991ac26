"""Standard-GeoParquet sink (sources/geoio.py write_geoparquet_std):
the ``geo`` footer key lands in EVERY data file (the spec's interop
contract — GDAL/geopandas discover the geometry column from it), the
geometry is ISO WKB (no EWKB SRID header), and the dataset reads back
through plain spark.read.parquet byte-identically.
"""

import glob
import json
import os

import pytest

import pyarrow.parquet as pq
import pyspark.sql.functions as F

from datafusion_geo_spark.functions import (st_astext, st_point,
                                            st_setsrid, st_srid)
from datafusion_geo_spark.sources.geoio import (geoparquet_metadata,
                                                write_geoparquet_std)


def _pts(spark, n=200, srid=4326):
    df = spark.range(n).select(
        F.col("id"),
        st_setsrid(st_point((F.col("id") % 36).cast("double"),
                            (F.col("id") % 17).cast("double")), srid)
        .alias("geom"))
    return df


def test_commit_protocol_deterministic_names(spark, tmp_path):
    # r10 ADVICE: part files are named by partitionId (tmp + atomic
    # rename), so a retried/speculative attempt overwrites its
    # predecessor instead of leaving an orphan duplicate, and no
    # .tmp debris survives a successful job
    out = str(tmp_path / "gp")
    write_geoparquet_std(_pts(spark).repartition(4), out)
    names = sorted(os.path.basename(f)
                   for f in glob.glob(os.path.join(out, "*")))
    assert names == ["_geo_manifest.json"] + \
        [f"part-{i:05d}.parquet" for i in range(4)]
    # re-running the same write (fresh overwrite) yields the SAME
    # file set — the retry-idempotency contract in miniature
    write_geoparquet_std(_pts(spark).repartition(4), out)
    names2 = sorted(os.path.basename(f)
                    for f in glob.glob(os.path.join(out, "*")))
    assert names2 == names
    got = spark.read.parquet(out).count()
    assert got == 200


def test_geo_key_in_every_file(spark, tmp_path):
    out = str(tmp_path / "gp")
    geo = write_geoparquet_std(_pts(spark).repartition(4), out)
    files = sorted(glob.glob(os.path.join(out, "*.parquet")))
    assert len(files) >= 2  # several partitions -> several files
    ds_bbox = geo["columns"]["geom"]["bbox"]
    for f in files:
        md = pq.read_schema(f).metadata
        assert b"geo" in md, f
        fgeo = json.loads(md[b"geo"])
        # the file's geo key matches the dataset's except bbox, which
        # is the FILE's own bbox (within the dataset bbox) — the
        # footer-pruning contract
        fb = fgeo["columns"]["geom"].pop("bbox")
        ref = {k: v for k, v in geo["columns"]["geom"].items()
               if k != "bbox"}
        assert fgeo["columns"]["geom"] == ref
        assert (fb[0] >= ds_bbox[0] and fb[1] >= ds_bbox[1]
                and fb[2] <= ds_bbox[2] and fb[3] <= ds_bbox[3])
    # the union of file bboxes reconstructs the dataset bbox exactly
    fbs = [json.loads(pq.read_schema(f).metadata[b"geo"])
           ["columns"]["geom"]["bbox"] for f in files]
    assert [min(b[0] for b in fbs), min(b[1] for b in fbs),
            max(b[2] for b in fbs), max(b[3] for b in fbs)] == ds_bbox


def test_bbox_file_pruning(spark, tmp_path):
    # r10 verdict item 4, pinned by a files-read assertion: a window
    # that misses a file's footer bbox never opens that file
    from datafusion_geo_spark.sources.geoio import read_geoparquet_std
    out = str(tmp_path / "gp")
    # two range-partitioned files: x in [0, 35] and x in [1000, 1035]
    far = _pts(spark).withColumn(
        "geom", st_point(F.col("id").cast("double") % 36 + 1000.0,
                         (F.col("id") % 17).cast("double")))
    from datafusion_geo_spark.functions import st_x
    both = (_pts(spark).union(far)
            .repartitionByRange(2, st_x(F.col("geom"))))
    write_geoparquet_std(both, out)
    files = sorted(glob.glob(os.path.join(out, "*.parquet")))
    assert len(files) == 2
    # window over the low cluster only
    got = read_geoparquet_std(spark, out, bbox=(0.0, 0.0, 50.0, 20.0))
    assert got.count() == 200
    opened = {os.path.basename(r.f) for r in got.select(
        F.input_file_name().alias("f")).distinct().collect()}
    assert len(opened) == 1  # ONE file read, the other pruned
    # window over the far cluster
    got2 = read_geoparquet_std(spark, out,
                               bbox=(1000.0, 0.0, 1100.0, 20.0))
    assert got2.count() == 200
    # window missing everything: empty result, schema intact
    got3 = read_geoparquet_std(spark, out,
                               bbox=(500.0, 0.0, 600.0, 20.0))
    assert got3.count() == 0
    assert got3.columns == got.columns


def test_geo_key_content(spark, tmp_path):
    out = str(tmp_path / "gp")
    geo = write_geoparquet_std(_pts(spark), out)
    assert geo["version"] == "1.1.0"
    assert geo["primary_column"] == "geom"
    col = geo["columns"]["geom"]
    assert col["encoding"] == "WKB"
    assert col["geometry_types"] == ["Point"]
    assert col["bbox"] == [0.0, 0.0, 35.0, 16.0]  # dataset bbox
    assert "crs" not in col  # spec default OGC:CRS84
    # the read-back footer matches on every file-invariant key; bbox
    # is FILE-scoped (depends on how range() partitioned the ids, so
    # under a different SPARK_GRAFT_CPUS it may be a subset box)
    got = geoparquet_metadata(out)
    gcol = dict(got["columns"]["geom"])
    fb = gcol.pop("bbox")
    assert {**got, "columns": {"geom": gcol}} == \
        {**geo, "columns": {"geom": {k: v for k, v in col.items()
                                     if k != "bbox"}}}
    assert (fb[0] >= 0.0 and fb[1] >= 0.0
            and fb[2] <= 35.0 and fb[3] <= 16.0)


def test_crs_projjson_passthrough(spark, tmp_path):
    out = str(tmp_path / "gp")
    crs = {"type": "GeographicCRS", "id": {"authority": "EPSG",
                                           "code": 4326}}
    geo = write_geoparquet_std(_pts(spark), out, crs_projjson=crs)
    assert geo["columns"]["geom"]["crs"] == crs
    assert geoparquet_metadata(out)["columns"]["geom"]["crs"] == crs


def test_auto_projjson_from_registry_roundtrip(spark, tmp_path):
    # r10 verdict item 3: data uniformly stamped with a registered
    # SRID gets its PROJJSON emitted automatically from CRS_META, and
    # the read side re-stamps the SRID from the footer — a full
    # write/read CRS round-trip with no caller-supplied PROJJSON
    from datafusion_geo_spark.sources.geoio import read_geoparquet_std
    out = str(tmp_path / "gp")
    geo = write_geoparquet_std(_pts(spark, srid=2263), out)
    crs = geo["columns"]["geom"]["crs"]
    assert crs["id"] == {"authority": "EPSG", "code": 2263}
    assert crs["name"] == "NAD83 / New York Long Island (ftUS)"
    assert crs["conversion"]["method"]["id"]["code"] == 9802
    back = read_geoparquet_std(spark, out)
    got = back.select(st_srid(F.col("geom")).alias("s")).distinct() \
        .collect()
    assert [r.s for r in got] == [2263]


def test_auto_projjson_skips_default_and_mixed(spark, tmp_path):
    # 4326 stays on the spec default (no crs key); mixed SRIDs write
    # no crs either (can't be represented by one PROJJSON)
    out1 = str(tmp_path / "gp4326")
    geo = write_geoparquet_std(_pts(spark, srid=4326), out1)
    assert "crs" not in geo["columns"]["geom"]
    out2 = str(tmp_path / "gpmix")
    mixed = _pts(spark, 50, srid=2263).union(_pts(spark, 50, srid=3035))
    geo2 = write_geoparquet_std(mixed, out2)
    assert "crs" not in geo2["columns"]["geom"]


def test_covering_bbox_column_and_pushdown(spark, tmp_path):
    # GeoParquet 1.1 covering: a persisted bbox struct declared in the
    # footer; the read-side bbox window becomes a row-level range
    # filter PUSHED to the parquet scan (row-group stats skipping —
    # the scale layer below per-file footer pruning)
    from datafusion_geo_spark.sources.geoio import read_geoparquet_std
    out = str(tmp_path / "gp")
    geo = write_geoparquet_std(_pts(spark), out, covering=True)
    cov = geo["columns"]["geom"]["covering"]["bbox"]
    assert cov == {"xmin": ["bbox", "xmin"], "ymin": ["bbox", "ymin"],
                   "xmax": ["bbox", "xmax"], "ymax": ["bbox", "ymax"]}
    back = spark.read.parquet(out)
    assert "bbox" in back.columns
    row = back.where(F.col("id") == 3).select("bbox").collect()[0].bbox
    assert (row.xmin, row.ymin, row.xmax, row.ymax) == \
        (3.0, 3.0, 3.0, 3.0)
    # windowed read: only intersecting rows survive, and the range
    # predicate reaches the scan (PushedFilters on the struct fields)
    got = read_geoparquet_std(spark, out, bbox=(0.0, 0.0, 9.5, 9.5))
    ids = {r.id for r in got.select("id").collect()}
    assert ids == {i for i in range(200)
                   if i % 36 <= 9 and i % 17 <= 9}
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "bbox.xmin" in plan, plan[:2000]


def test_manifest_sidecar_matches_footers(spark, tmp_path):
    # the sink writes _geo_manifest.json (per-file rows + bbox from
    # the task reports) so windowed reads prune from ONE metadata file
    out = str(tmp_path / "gp")
    write_geoparquet_std(_pts(spark).repartition(4), out)
    man = json.load(open(os.path.join(out, "_geo_manifest.json")))
    files = sorted(glob.glob(os.path.join(out, "*.parquet")))
    assert sorted(man["files"]) == [os.path.basename(f) for f in files]
    assert sum(e["rows"] for e in man["files"].values()) == 200
    for f in files:
        fgeo = json.loads(pq.read_schema(f).metadata[b"geo"])
        assert man["files"][os.path.basename(f)]["bbox"] == \
            fgeo["columns"]["geom"]["bbox"]
    assert man["geo"]["primary_column"] == "geom"


def test_manifest_is_the_pruning_source(spark, tmp_path):
    # strip the geo key from every footer: the footer path would then
    # conservatively keep ALL files, so observing pruning proves the
    # manifest is what's consulted; corrupting the manifest must fall
    # back to footers (conservative keep, correct rows)
    from datafusion_geo_spark.sources.geoio import read_geoparquet_std
    from datafusion_geo_spark.functions import st_x
    out = str(tmp_path / "gp")
    far = _pts(spark).withColumn(
        "geom", st_point(F.col("id").cast("double") % 36 + 1000.0,
                         (F.col("id") % 17).cast("double")))
    both = (_pts(spark).union(far)
            .repartitionByRange(2, st_x(F.col("geom"))))
    write_geoparquet_std(both, out)
    geo_bytes = None
    for f in sorted(glob.glob(os.path.join(out, "*.parquet"))):
        t = pq.read_table(f)
        geo_bytes = t.schema.metadata[b"geo"]
        pq.write_table(t.replace_schema_metadata({}), f)
    # footers are now bbox-less; put a BBOX-FREE geo key back on ONE
    # file so geoparquet_metadata still discovers the dataset without
    # reintroducing any footer bbox
    nobb = json.loads(geo_bytes)
    nobb["columns"]["geom"].pop("bbox", None)
    f0 = sorted(glob.glob(os.path.join(out, "*.parquet")))[0]
    t0 = pq.read_table(f0)
    pq.write_table(t0.replace_schema_metadata(
        {b"geo": json.dumps(nobb).encode()}), f0)
    got = read_geoparquet_std(spark, out, bbox=(0.0, 0.0, 50.0, 20.0))
    assert got.count() == 200
    opened = {r.f for r in got.select(
        F.input_file_name().alias("f")).distinct().collect()}
    assert len(opened) == 1  # pruned via the manifest
    # corrupt the sidecar: falls back to footers, which are bbox-less
    # -> conservative keep of both files, rows still correct
    with open(os.path.join(out, "_geo_manifest.json"), "w") as fh:
        fh.write("{not json")
    got2 = read_geoparquet_std(spark, out, bbox=(0.0, 0.0, 50.0, 20.0))
    opened2 = {r.f for r in got2.select(
        F.input_file_name().alias("f")).distinct().collect()}
    assert len(opened2) == 2


def test_iso_wkb_no_ewkb_header_and_roundtrip(spark, tmp_path):
    out = str(tmp_path / "gp")
    src = _pts(spark, srid=4326)
    write_geoparquet_std(src, out)
    back = spark.read.parquet(out)
    # SRID stripped: ISO WKB, 21-byte points, no EWKB srid (engine
    # reports unset SRID as NULL)
    r = back.select(F.length("geom").alias("n"),
                    st_srid(F.col("geom")).alias("srid")).distinct() \
        .collect()
    assert [(x.n, x.srid) for x in r] == [(21, None)]
    # values round-trip (compare WKT of the two sides by id)
    a = {r.id: r.wkt for r in
         src.select("id", st_astext(F.col("geom")).alias("wkt"))
         .collect()}
    b = {r.id: r.wkt for r in
         back.select("id", st_astext(F.col("geom")).alias("wkt"))
         .collect()}
    assert a == b


def test_empty_dataframe_writes_metadata_only(spark, tmp_path):
    from datafusion_geo_spark.sources.geoio import read_geoparquet_std
    for covering in (False, True):
        out = str(tmp_path / f"gp_{covering}")
        geo = write_geoparquet_std(_pts(spark).where(F.lit(False)), out,
                                   covering=covering)
        assert geo["columns"]["geom"]["geometry_types"] == []
        assert "bbox" not in geo["columns"]["geom"]
        assert geoparquet_metadata(out) == geo
        assert spark.read.parquet(out).count() == 0
        # the zero-row file's schema is the frame written: the declared
        # covering column is there, the sink's helper columns are not
        names = pq.read_schema(os.path.join(out, "part-00000.parquet")).names
        assert names == (["id", "geom", "bbox"] if covering
                         else ["id", "geom"])
        win = read_geoparquet_std(spark, out, bbox=(0.0, 0.0, 9.0, 9.0))
        assert win.count() == 0


def test_overwrite_and_error_modes(spark, tmp_path):
    out = str(tmp_path / "gp")
    write_geoparquet_std(_pts(spark, 50), out)
    write_geoparquet_std(_pts(spark, 20), out)  # overwrite default
    assert spark.read.parquet(out).count() == 20
    with pytest.raises(ValueError, match="path exists"):
        write_geoparquet_std(_pts(spark, 10), out, mode="error")


def test_read_side_auto_discovers_epsg(spark, tmp_path):
    from datafusion_geo_spark.sources.geoio import read_geoparquet_std
    out = str(tmp_path / "gp")
    crs = {"type": "GeographicCRS",
           "id": {"authority": "EPSG", "code": 4326}}
    write_geoparquet_std(_pts(spark, 20), out, crs_projjson=crs)
    back = read_geoparquet_std(spark, out)
    srids = {r.s for r in
             back.select(st_srid(F.col("geom")).alias("s")).collect()}
    assert srids == {4326}
    # no-metadata directory reads back unchanged
    plain = str(tmp_path / "plain")
    _pts(spark, 5).write.parquet(plain)
    assert read_geoparquet_std(spark, plain).count() == 5


def test_read_side_no_crs_stays_unstamped(spark, tmp_path):
    from datafusion_geo_spark.sources.geoio import read_geoparquet_std
    out = str(tmp_path / "gp")
    write_geoparquet_std(_pts(spark, 10), out)  # default CRS84: no id
    back = read_geoparquet_std(spark, out)
    srids = {r.s for r in
             back.select(st_srid(F.col("geom")).alias("s")).collect()}
    assert srids == {None}
