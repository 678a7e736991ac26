"""Unit tests for operators/mlfit.py — distributed ridge regression by
normal equations. Oracle-level replays live in test_entry_oracle.py
(linreg_weights / linreg_score)."""

import pytest

from datafusion_geo_spark.operators.mlfit import (doc_features,
                                                  gram_moments,
                                                  ridge_fit,
                                                  solve_spd_r6)
from datafusion_geo_spark.operators.util import round6


def test_solver_close_to_numpy_on_random_spd():
    import numpy as np
    rng = np.random.default_rng(3)
    for _ in range(20):
        k = 4
        x = rng.integers(0, 50, size=(200, k))
        x[:, 0] = 1
        y = rng.integers(0, 500, size=200)
        g = (x.T @ x).tolist()
        b = (x.T @ y).tolist()
        w = solve_spd_r6(g, b, ridge=1)
        ref = np.linalg.solve(np.array(g) + np.eye(k), np.array(b, float))
        # 6-dp rounding at every step accumulates; weights are O(1-10)
        assert np.allclose(w, ref, atol=1e-3, rtol=1e-4), (w, ref)


def test_solver_deterministic_and_r6_grid():
    g = [[500, 27165, 5362, 934], [27165, 1787721, 354083, 61187],
         [5362, 354083, 74488, 12087], [934, 61187, 12087, 3034]]
    b = [149174, 9821787, 1935963, 339319]
    w1 = solve_spd_r6(g, b)
    w2 = solve_spd_r6(g, b)
    assert w1 == w2
    for v in w1:
        assert v == round6(v)  # every weight sits on the 6-dp grid


def test_features_and_gram_exact(spark):
    rows = [(1, "aa bb a longwordhere x"), (2, "s t u")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    f = {r["doc_id"]: r for r in doc_features(df).collect()}
    assert f[1]["y"] == len(rows[0][1]) and f[1]["x1"] == 5
    assert f[1]["x2"] == 4          # aa bb a x
    assert f[1]["x3"] == 1          # longwordhere
    assert f[2]["x1"] == f[2]["x2"] == 3 and f[2]["x3"] == 0
    g, bb, n = gram_moments(doc_features(df))
    assert n == 2 and g[0][0] == 2 and g[1][1] == 5 * 5 + 3 * 3
    assert bb[0] == f[1]["y"] + f[2]["y"]


def test_fit_recovers_exact_linear_relation(spark):
    # y is EXACTLY 2*x1 (docs of k single-char words: length = 2k-1
    # ... use words of fixed len 1 => y = 2*n_words - 1, linear in
    # (bias, n_words) with n_short = n_words, n_long = 0)
    rows = [(i, " ".join("a" * 1 for _ in range(5 + i))) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    w = ridge_fit(df)
    # model: y = -1 + 2*x1 with x2 == x1 (collinear split absorbed by
    # ridge); check the fitted PREDICTION, not individual weights
    import numpy as np
    feats = {r["doc_id"]: r for r in doc_features(df).collect()}
    for i in (0, 20, 39):
        fr = feats[i]
        yhat = (w[0] * fr["x0"] + w[1] * fr["x1"] + w[2] * fr["x2"]
                + w[3] * fr["x3"])
        assert abs(yhat - fr["y"]) < 0.5, (i, yhat, fr["y"])


def test_logreg_learns_separable_label(spark):
    # label = "doc has > 20 words": perfectly separable on x1; three
    # GD rounds must move the n_words weight positive and classify the
    # training extremes correctly at the sigmoid midpoint
    import pyspark.sql.functions as F
    from datafusion_geo_spark.operators.mlfit import (FEATURE_SCALE,
                                                      logreg_fit)
    rows = [(i, " ".join("word" for _ in range(5 if i % 2 else 40)))
            for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    feat = (doc_features(df)
            .withColumn("y01", (F.col("x1") > 20).cast("long")))
    w = logreg_fit(feat)
    assert w[1] > 0.0
    z_long = sum(wj * xj / FEATURE_SCALE
                 for wj, xj in zip(w, (1, 40, 0, 0)))
    z_short = sum(wj * xj / FEATURE_SCALE
                  for wj, xj in zip(w, (1, 5, 5, 0)))
    assert z_long > z_short


def test_logreg_deterministic(spark):
    import pyspark.sql.functions as F
    from datafusion_geo_spark.operators.mlfit import logreg_weights_df
    rows = [(i, "some words here to classify " + "pad " * (i % 7))
            for i in range(30)]
    df = (spark.createDataFrame(rows, "doc_id long, text string")
          .withColumn("lang", F.when(F.col("doc_id") % 3 == 0,
                                     "en").otherwise("de")))
    a = logreg_weights_df(df, F.col("lang") == "en").collect()
    b = logreg_weights_df(df, F.col("lang") == "en").collect()
    assert a == b


def test_pca_power_finds_dominant_direction(spark):
    """A corpus stretched along e1 (variance 100x other dims) must
    yield a top component concentrated on dim 1 (|v_1| = quant after
    renormalization, the rest near 0); deterministic across runs."""
    from datafusion_geo_spark.operators.mlfit import pca_top_component
    rows = [(i, [((i % 5) - 2) * 0.1] + [((i * 7 + d) % 3 - 1) * 0.01
                                         for d in range(7)])
            for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["pos"]: r["v_milli"]
           for r in pca_top_component(df, iters=2).collect()}
    assert len(out) == 8
    assert abs(out[1]) == 1000  # dominant axis pinned to the milli unit
    assert all(abs(out[p]) < 200 for p in range(2, 9))
    out2 = {r["pos"]: r["v_milli"]
            for r in pca_top_component(df, iters=2).collect()}
    assert out == out2
