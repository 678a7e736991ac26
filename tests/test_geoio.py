"""Sources/sinks: WKT CSV ingestion and GeoJSON-lines round-trips."""

import os
import shutil

import pyspark.sql.functions as F
import pytest

from datafusion_geo_spark.functions import st_astext
from datafusion_geo_spark.sources.geoio import read_wkt_csv

CACHE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     ".cache", "geoio_test")


@pytest.fixture(scope="module", autouse=True)
def clean_dir():
    shutil.rmtree(CACHE, ignore_errors=True)
    os.makedirs(CACHE, exist_ok=True)
    yield
    shutil.rmtree(CACHE, ignore_errors=True)


def test_wkt_csv_roundtrip(spark):
    csv_dir = os.path.join(CACHE, "csv_in")
    pdf_rows = [(i, f"POINT({i} {i+1})") for i in range(50)]
    spark.createDataFrame(pdf_rows, "id long, wkt string") \
        .coalesce(1).write.mode("overwrite").option("header", True).csv(csv_dir)
    df = read_wkt_csv(spark, csv_dir)
    got = {r.id: r.wkt for r in
           df.select("id", st_astext(F.col("geom")).alias("wkt")).collect()}
    assert got == {str(i): f"POINT({i} {i+1})" for i in range(50)} or \
           got == {i: f"POINT({i} {i+1})" for i in range(50)}


def test_geojsonl_roundtrip(spark):
    from datafusion_geo_spark.sources.geoio import (read_geojsonl,
                                                    write_geojsonl)
    from datafusion_geo_spark.functions import st_geomfromtext
    path = os.path.join(CACHE, "features")
    src = spark.createDataFrame(
        [(1, "alpha", "POINT(1 2)"),
         (2, "beta", "LINESTRING(0 0,3 4)"),
         (3, "gamma", None)],
        "id long, name string, wkt string")
    df = src.select("id", "name",
                    st_geomfromtext(F.col("wkt")).alias("geom"))
    write_geojsonl(df, path)

    back = read_geojsonl(spark, path, properties_schema="id long, name string")
    got = {r["id"]: r for r in back.select(
        "id", "name",
        st_astext(F.col("geom")).alias("wkt")).collect()}
    assert got[1]["wkt"] == "POINT(1 2)" and got[1]["name"] == "alpha"
    assert got[2]["wkt"] == "LINESTRING(0 0,3 4)"
    assert got[3]["wkt"] is None  # null geometry preserved, not dropped

    # without a schema: properties ride along as JSON text
    raw = read_geojsonl(spark, path)
    assert set(raw.columns) == {"geom", "properties_json"}
    assert raw.where(F.col("properties_json").contains('"name":"beta"')) \
              .count() == 1


def test_geojsonl_bare_geometry_lines(spark):
    path = os.path.join(CACHE, "bare")
    from datafusion_geo_spark.sources.geoio import read_geojsonl
    lines = ['{"type":"Point","coordinates":[7,8]}',
             '',  # blank lines skipped
             '{"type":"Polygon","coordinates":[[[0,0],[2,0],[2,2],[0,0]]]}']
    spark.createDataFrame([(l,) for l in lines], "value string") \
        .coalesce(1).write.mode("overwrite").text(path)
    got = sorted(r["wkt"] for r in read_geojsonl(spark, path).select(
        st_astext(F.col("geom")).alias("wkt")).collect())
    assert got == ["POINT(7 8)", "POLYGON((0 0,2 0,2 2,0 0))"]
