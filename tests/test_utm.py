"""UTM Transverse Mercator transform (geo/proj.py Krüger series)."""

import math
import random

import pyspark.sql.functions as F
import pytest

from datafusion_geo_spark.geo.proj import (transform_geometry, transformer,
                                           utm_zone)
from datafusion_geo_spark.geo.wkt import from_wkt, to_wkt


def lonlat_to_utm(lon, lat, zone, north):
    return transformer(4326, (32600 if north else 32700) + zone)(lon, lat)


def utm_to_lonlat(e, n, zone, north):
    return transformer((32600 if north else 32700) + zone, 4326)(e, n)


def test_known_anchors():
    # central meridian / equator of zone 31 is exactly (500000, 0)
    assert lonlat_to_utm(3, 0, 31, True) == (500000.0, 0.0)
    # canonical zone-edge value (public tables): 0°E 0°N in zone 31
    e, n = lonlat_to_utm(0, 0, 31, True)
    assert e == pytest.approx(166021.443, abs=2e-3) and n == 0.0
    # Karney's TM test point vicinity: 8°E 50°N, zone 32
    e, n = lonlat_to_utm(8, 50, 32, True)
    assert e == pytest.approx(428333.552, abs=2e-3)
    assert n == pytest.approx(5539109.815, abs=2e-3)
    # southern hemisphere false northing
    e, n = lonlat_to_utm(151.2093, -33.8688, 56, False)
    assert 0 < e < 1_000_000 and 6_000_000 < n < 7_000_000


def test_roundtrip_everywhere():
    rng = random.Random(7)
    worst = 0.0
    for _ in range(500):
        zone = rng.randint(1, 60)
        north = rng.random() < 0.5
        lon = zone * 6 - 183 + rng.uniform(-3, 3)
        lat = rng.uniform(0.01, 84) if north else rng.uniform(-80, -0.01)
        e, n = lonlat_to_utm(lon, lat, zone, north)
        lon2, lat2 = utm_to_lonlat(e, n, zone, north)
        worst = max(worst, abs(lon2 - lon), abs(lat2 - lat))
    assert worst < 1e-8        # < ~1 mm


def test_epsg_dispatch():
    assert utm_zone(32631) == (31, True)
    assert utm_zone(32756) == (56, False)
    assert utm_zone(3857) is None
    g = from_wkt("POINT(3 0)").with_srid(4326)
    t = transform_geometry(g, 32631)
    assert t.srid == 32631 and t.parts == (500000.0, 0.0)
    back = transform_geometry(t, 4326)
    assert back.parts[0] == pytest.approx(3.0, abs=1e-9)
    with pytest.raises(ValueError):
        transform_geometry(g, 32661)   # UPS, not UTM — unsupported


def test_spark_surface(spark):
    from datafusion_geo_spark.functions import (register_all, st_srid,
                                                st_transform, st_x, st_y)
    register_all(spark)
    row = spark.sql("""
        SELECT ST_X(t) AS e, ST_Y(t) AS n, ST_SRID(t) AS srid FROM (
          SELECT ST_Transform(ST_GeomFromText('POINT(8 50)', 4326),
                              32632) AS t)
    """).collect()[0]
    assert row["e"] == pytest.approx(428333.552, abs=2e-3)
    assert row["n"] == pytest.approx(5539109.815, abs=2e-3)
    assert row["srid"] == 32632
