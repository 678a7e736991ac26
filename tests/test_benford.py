"""benford_audit (operators/profile.py): exact digit counts, chi2."""

import math

from datafusion_geo_spark.operators.profile import (BENFORD_MICRO,
                                                    benford_audit)


def test_counts_and_chi2(spark):
    vals = [1, 19, 200, 2999, 3, 9, 90, 0, -5, None, 123456]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    out = benford_audit(df, "v").collect()[0]
    assert out.n == 8 and out.n_excluded == 3
    assert (out.o1, out.o2, out.o3, out.o9) == (3, 2, 1, 2)
    chi = 0.0
    obs = {1: 3, 2: 2, 3: 1, 9: 2}
    for d in range(1, 10):
        e = 8.0 * (BENFORD_MICRO[d - 1] / 1e6)
        o = float(obs.get(d, 0))
        chi += (o - e) * (o - e) / e
    want = math.floor(abs(chi) * 1e6 + 0.5) / 1e6
    assert out.chi2 == want


def test_all_excluded_null_chi2(spark):
    df = spark.createDataFrame([(0,), (-1,), (None,)], "v long")
    out = benford_audit(df, "v").collect()[0]
    assert out.n == 0 and out.n_excluded == 3 and out.chi2 is None


def test_benford_like_data_scores_low(spark):
    # 2^k leading digits follow Benford closely; uniform 100..999 not
    pows = [(2 ** (k % 62 + 1),) for k in range(1, 300)]
    uni = [(v,) for v in range(100, 999, 3)]
    c_p = benford_audit(spark.createDataFrame(pows, "v long"),
                        "v").collect()[0].chi2
    c_u = benford_audit(spark.createDataFrame(uni, "v long"),
                        "v").collect()[0].chi2
    assert c_p < c_u  # closer to the law than uniform
