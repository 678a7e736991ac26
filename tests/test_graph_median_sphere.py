"""Late r5-tail operators: integer PageRank, triangle counting,
geometric median, spherical navigation, audio frame features."""

import math

import pyspark.sql.functions as F
import pytest

from datafusion_geo_spark.geo.metrics import geometric_median
from datafusion_geo_spark.geo.proj import (haversine_m, sphere_azimuth,
                                           sphere_project)
from datafusion_geo_spark.geo.wkt import from_wkt
from datafusion_geo_spark.operators.graph import graph_stats, pagerank_int


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id_a long, id_b long")


class TestPageRank:
    def test_symmetric_star(self, spark):
        # star graph: center sees all leaves, leaves identical ranks
        pairs = _pairs(spark, [(0, i) for i in range(1, 6)])
        out = {r["id"]: r["rank_int"]
               for r in pagerank_int(pairs, iters=3).collect()}
        assert len(out) == 6
        leaf_ranks = {out[i] for i in range(1, 6)}
        assert len(leaf_ranks) == 1           # symmetry
        assert out[0] > out[1]                # center dominates

    def test_partition_invariant(self, spark):
        rows = [(i, (i * 7) % 23) for i in range(40) if i != (i * 7) % 23]
        a = sorted(map(tuple, pagerank_int(_pairs(spark, rows)).collect()))
        b = sorted(map(tuple, pagerank_int(
            _pairs(spark, rows).repartition(5)).collect()))
        assert a == b

    def test_rank_mass_bounded(self, spark):
        pairs = _pairs(spark, [(1, 2), (2, 3), (3, 1)])
        out = pagerank_int(pairs, iters=5).collect()
        # triangle is regular: all ranks equal the initial mass
        assert {r["rank_int"] for r in out} == {999999} or \
            len({r["rank_int"] for r in out}) == 1


class TestTriangles:
    def test_known_counts(self, spark):
        # K4 has 4 triangles, 6 edges, max degree 3
        k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
        row = graph_stats(_pairs(spark, k4)).collect()[0]
        assert (row["n_vertices"], row["n_edges"],
                row["max_degree"], row["n_triangles"]) == (4, 6, 3, 4)

    def test_triangle_free(self, spark):
        path = [(i, i + 1) for i in range(10)]
        row = graph_stats(_pairs(spark, path)).collect()[0]
        assert row["n_triangles"] == 0


class TestGeometricMedian:
    def test_beats_centroid(self):
        pts = [(0.0, 0.0), (10.0, 0.0), (5.0, 20.0), (5.0, 1.0)]
        g = from_wkt("MULTIPOINT(" + ",".join(
            f"{x} {y}" for x, y in pts) + ")")
        m = geometric_median(g)

        def sumd(c):
            return sum(math.hypot(c[0] - p[0], c[1] - p[1]) for p in pts)

        cx = sum(p[0] for p in pts) / 4
        cy = sum(p[1] for p in pts) / 4
        assert sumd(m.parts) <= sumd((cx, cy)) + 1e-9
        # and beats small perturbations (local optimality)
        for dx, dy in ((0.5, 0), (-0.5, 0), (0, 0.5), (0, -0.5)):
            assert sumd(m.parts) <= sumd((m.parts[0] + dx,
                                          m.parts[1] + dy)) + 1e-9

    def test_majority_point_attracts(self):
        g = from_wkt("MULTIPOINT(0 0,0 0,0 0,10 0)")
        m = geometric_median(g)
        assert math.hypot(*m.parts) < 0.01

    def test_single_and_empty(self):
        assert geometric_median(from_wkt("POINT(3 4)")).parts == (3.0, 4.0)
        assert geometric_median(
            from_wkt("MULTIPOINT EMPTY")).parts is None


class TestSphereNav:
    def test_azimuth_cardinals(self):
        assert sphere_azimuth(0, 0, 0, 1) == pytest.approx(0.0)
        assert sphere_azimuth(0, 0, 1, 0) == pytest.approx(math.pi / 2)
        assert sphere_azimuth(0, 0, 0, -1) == pytest.approx(math.pi)
        assert sphere_azimuth(0, 0, -1, 0) == pytest.approx(3 * math.pi / 2)

    def test_project_roundtrip(self):
        for lon, lat, d, az in [(2.35, 48.85, 343000.0, 5.2),
                                (-70.0, -33.0, 1000000.0, 0.9),
                                (179.0, 10.0, 300000.0, 1.6)]:
            lon2, lat2 = sphere_project(lon, lat, d, az)
            assert -180.0 <= lon2 <= 180.0
            assert haversine_m(lon, lat, lon2, lat2) == \
                pytest.approx(d, rel=1e-9)
            # initial bearing back-check
            assert sphere_azimuth(lon, lat, lon2, lat2) == \
                pytest.approx(az, abs=1e-6)


class TestAudioFrames:
    def test_exact_window_features(self, spark):
        from datafusion_geo_spark.operators.multimodal import (
            audio_frame_features, to_media)
        text = "abcd" * 100  # 400 bytes -> frames of 256 + 144
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        rows = {r["frame_idx"]: r for r in
                audio_frame_features(to_media(df), window=256).collect()}
        assert sorted(rows) == [0, 1]
        assert rows[0]["n_samples"] == 256 and rows[1]["n_samples"] == 144
        # verify frame 0 against a straight python computation
        b = text.encode()[:256]
        m = sum(b) // 256
        c = [v - m for v in b]
        assert rows[0]["sum_sq"] == sum(v * v for v in c)
        assert rows[0]["zcr"] == sum(
            1 for i in range(255) if (c[i] < 0) != (c[i + 1] < 0))


class TestPageRankDriverPath:
    """r12 bounded driver finish: the driver path and the (forced)
    distributed loop must return the identical frame — same integer
    ops, so bit-identical ranks."""

    def _both(self, spark, rows, iters=3):
        import datafusion_geo_spark.operators.util as U
        pairs = _pairs(spark, rows)
        drv = sorted(map(tuple, pagerank_int(pairs, iters=iters)
                         .collect()))
        cap = U.DRIVER_MAX_EDGES
        U.DRIVER_MAX_EDGES = 0
        try:
            dist = sorted(map(tuple, pagerank_int(pairs, iters=iters)
                              .collect()))
        finally:
            U.DRIVER_MAX_EDGES = cap
        return drv, dist

    def test_fuzz_driver_vs_distributed(self, spark):
        import random
        rnd = random.Random(1207)
        for n, m in [(12, 20), (40, 70), (80, 200)]:
            rows = []
            for _ in range(m):
                a, b = rnd.randrange(n), rnd.randrange(n)
                if a != b:
                    rows.append((a, b))
            drv, dist = self._both(spark, rows)
            assert drv == dist, (n, m)

    def test_star_and_duplicate_pairs(self, spark):
        rows = [(0, i) for i in range(1, 6)] + [(0, 1), (1, 0)]
        drv, dist = self._both(spark, rows, iters=5)
        assert drv == dist


class TestGraphStatsDriverPath:
    """r12 bounded driver finish for graph_stats — identical frame to
    the forced distributed wedge-join form."""

    def _both(self, spark, rows):
        import datafusion_geo_spark.operators.util as U
        pairs = _pairs(spark, rows)
        drv = graph_stats(pairs).collect()[0]
        cap = U.DRIVER_MAX_EDGES
        U.DRIVER_MAX_EDGES = 0
        try:
            dist = graph_stats(pairs).collect()[0]
        finally:
            U.DRIVER_MAX_EDGES = cap
        return tuple(drv), tuple(dist)

    def test_fuzz_driver_vs_distributed(self, spark):
        import random
        rnd = random.Random(812)
        for n, m in [(8, 14), (25, 60), (50, 160)]:
            rows = []
            for _ in range(m):
                a, b = rnd.randrange(n), rnd.randrange(n)
                rows.append((a, b))  # self-loops + dups exercised
            drv, dist = self._both(spark, rows)
            assert drv == dist, (n, m)

    def test_k4_schema_and_values(self, spark):
        k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
        out = graph_stats(_pairs(spark, k4))
        assert [f.name for f in out.schema.fields] == [
            "n_vertices", "n_edges", "max_degree", "n_triangles"]
        assert tuple(out.collect()[0]) == (4, 6, 3, 4)
