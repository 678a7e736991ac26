"""Regression tests for the round-10 ADVICE fixes.

1. adjusted_rand pair counts stay exact past the 2^53 double window
   (evals.py pairs2 now uses util.idiv, not a double '/2').
2. krippendorff_alpha counts NULL-bearing units explicitly
   (n_skipped) instead of silently dropping them from o_mis2 while
   keeping their labels in the marginals.
3. edit_join._del1 returns an EMPTY array for the empty string (the
   Spark sequence(1,0)->[1,0] trap).
4. delaunay_triangles returns the minimum-area-gap Bowyer-Watson
   attempt when no super-triangle multiplier meets tolerance.
"""

import pytest

import pyspark.sql.functions as F

from datafusion_geo_spark.operators.evals import (adjusted_rand,
                                                  krippendorff_alpha)
from datafusion_geo_spark.operators.edit_join import (_del1,
                                                      deletion_variants)


# ------------------------------------------------ 1. ARI exactness

def test_ari_pairs_exact_beyond_double_window(spark):
    # c = 2^28+3: c*(c-1) = 2^56 + 5*2^28 + 6 needs ~55 significant
    # bits, NOT double-representable, so a double '/2' would round;
    # util.idiv keeps C(c,2) exact. (n_total = 2c stays well inside the
    # operator's n*(n-1) <= 2^63 domain.)
    c = 2 ** 28 + 3
    conf = spark.createDataFrame([("x", "p", c), ("y", "q", c)],
                                 ["a", "b", "n"])
    r = adjusted_rand(conf, "a", "b", "n").collect()[0]
    want = c * (c - 1) // 2
    assert r.sum_ab_pairs == 2 * want
    assert r.sum_a_pairs == 2 * want
    assert r.sum_b_pairs == 2 * want
    assert r.ari == 1.0


def test_ari_pairs_exact_odd_large_count(spark):
    # odd c exercises the (c-1)-even branch of the identity
    c = 2 ** 28 + 5
    conf = spark.createDataFrame([("x", "p", c)], ["a", "b", "n"])
    r = adjusted_rand(conf, "a", "b", "n").collect()[0]
    assert r.sum_ab_pairs == c * (c - 1) // 2


# --------------------------------------- 2. krippendorff NULL guard

def test_alpha_null_unit_skipped_consistently(spark):
    # unit 3 has a NULL rating: it must contribute to NEITHER o_mis2
    # NOR the marginals, and be counted in n_skipped.
    u = spark.createDataFrame(
        [(1, "a", "a", "a"), (2, "a", "a", "b"), (3, None, "b", "b"),
         (4, "a", "b", "b"), (5, "b", "b", "a")],
        ["doc_id", "r1", "r2", "r3"])
    r = krippendorff_alpha(u, ["r1", "r2", "r3"]).collect()[0]
    # manual over units {1,2,4,5}: mism = 0+2+2+2 = 6
    n, na = 12, 7  # 12 ratings, 7 'a' (3+2+1+1)
    om2 = 2 * 6
    nn = n * n - (na * na + (n - na) * (n - na))
    want = 1 - (n - 1) * om2 / (2 * nn)
    assert (r.n_units, r.n_skipped, r.n_ratings, r.o_mis2, r.nn_mis) \
        == (4, 1, n, om2, nn)
    assert r.alpha == pytest.approx(round(want, 6), abs=1e-9)


def test_alpha_no_nulls_zero_skipped(spark):
    u = spark.createDataFrame([(1, "a", "a", "b"), (2, "b", "b", "b")],
                              ["doc_id", "r1", "r2", "r3"])
    r = krippendorff_alpha(u, ["r1", "r2", "r3"]).collect()[0]
    assert r.n_skipped == 0 and r.n_units == 2


def test_alpha_all_units_skipped(spark):
    u = spark.createDataFrame([(1, None, "a", "a"), (2, "b", None, "b")],
                              ["doc_id", "r1", "r2", "r3"])
    r = krippendorff_alpha(u, ["r1", "r2", "r3"]).collect()[0]
    assert (r.n_units, r.n_skipped, r.n_ratings, r.o_mis2) == (0, 2, 0, 0)
    assert r.alpha is None


# ------------------------------------------- 3. _del1 empty string

def test_del1_empty_string_is_empty_array(spark):
    df = spark.createDataFrame([("",), ("ab",)], ["s"])
    rows = {r.s: r.v for r in
            df.select("s", _del1(F.col("s")).alias("v")).collect()}
    assert rows[""] == []
    assert sorted(rows["ab"]) == ["a", "b"]


def test_deletion_variants_empty_string(spark):
    df = spark.createDataFrame([("",)], ["s"])
    for k in (1, 2):
        v = df.select(deletion_variants(F.col("s"), k).alias("v")) \
            .collect()[0].v
        assert v == [""]  # only the 0-deletion variant


# ------------------------------------ 4. delaunay best-attempt pick

def test_delaunay_returns_min_gap_attempt():
    from datafusion_geo_spark.geo.triangulate import (
        delaunay_triangles, _bowyer_watson, _hull_area2, _ccw, _sites)
    from datafusion_geo_spark.geo.geom import Geometry

    # a sliver-heavy site set: near-collinear row plus two apexes
    pts = [(float(i), 1e-7 * i * i) for i in range(9)]
    pts += [(4.0, 3.0), (4.0, -3.0)]
    g = Geometry("MultiPoint", pts, 0)
    tris = delaunay_triangles(g)
    hull2 = _hull_area2(_sites(g))
    got_gap = abs(sum(abs(_ccw(*t)) for t in tris) - hull2)
    best = min(
        abs(sum(abs(_ccw(*t)) for t in _bowyer_watson(_sites(g), m))
            - hull2)
        for m in (64.0, 4096.0, 262144.0, 16777216.0))
    assert got_gap <= best + 1e-15
