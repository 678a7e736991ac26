"""Distributed linear-model fitting for data-pipeline scoring.

Ridge regression by NORMAL EQUATIONS: the corpus contributes one
Gram-matrix aggregate (k(k+1)/2 + k + 1 integer sums — the shuffle
carries a handful of int64s per map task, never rows), and the k x k
solve happens driver-side, bounded by the feature count, independent of
corpus size. This is the textbook 100-TB shape for linear fits: at any
scale the data pass is a single partial+final aggregate, and the model
ships back as literals folded into whole-stage codegen.

Engine-exactness discipline (the kmeans_centroids pattern): features
are exact small integers, so the Gram entries are EXACT int64 in both
engines; the driver-side Gaussian elimination rounds every arithmetic
result to 6 decimal places (round-half-up on the scaled value), which
the DuckDB oracle replays as an unrolled CTE chain with the identical
operation order — same doubles in, same rounding after every op, same
weights out, bit-for-bit.

Overflow note at real scale: sum(x_i * x_j) over ~1e12 rows of
O(1e3)-valued features approaches int64 range; production would scale
features down or use a two-level (per-partition then global) sum.  The
CONTRACT here (integer Gram, bounded solve) is what matters.
"""

from __future__ import annotations

from typing import List, Sequence, Tuple

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from . import util
from .util import micro, round6, round6_binary
from .text import words_col

#: feature names, in model order: bias, word count, short words
#: (len <= 3), long words (len >= 8). All exact int64 per document.
FEATURES = ("bias", "n_words", "n_short", "n_long")
RIDGE_LAMBDA = 1  # added to the Gram diagonal: SPD => pivot-safe


def doc_features(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id",
                 extra_cols: Sequence[str] = ()) -> DataFrame:
    """Per-doc integer feature row: (id, y, x1..xk) with y = char
    length and x = (1, word count, short-word count, long-word count).
    Pure JVM expressions — no UDF, fully codegen'd. ``extra_cols``
    carries passthrough columns (e.g. lang for a grouped monitor)."""
    w = words_col(F.col(text_col))
    return df.select(
        F.col(id_col), *[F.col(c) for c in extra_cols],
        F.length(F.col(text_col)).cast("long").alias("y"),
        F.lit(1).cast("long").alias("x0"),
        F.size(w).cast("long").alias("x1"),
        F.size(F.filter(w, lambda t: F.length(t) <= 3)).cast("long")
        .alias("x2"),
        F.size(F.filter(w, lambda t: F.length(t) >= 8)).cast("long")
        .alias("x3"))


def gram_moments(feat: DataFrame) -> Tuple[list, list, int]:
    """ONE aggregate pass: exact int64 Gram matrix G = X'X, moment
    vector b = X'y, and the row count. This is the only corpus touch of
    the whole fit — k(k+1)/2 + k + 1 sums, map-side combined."""
    k = 4
    aggs = []
    for i in range(k):
        for j in range(i, k):
            aggs.append(F.sum(F.col(f"x{i}") * F.col(f"x{j}"))
                        .alias(f"g{i}{j}"))
    for i in range(k):
        aggs.append(F.sum(F.col(f"x{i}") * F.col("y")).alias(f"b{i}"))
    aggs.append(F.count(F.lit(1)).alias("n"))
    row = feat.agg(*aggs).collect()[0]
    g = [[row[f"g{min(i, j)}{max(i, j)}"] for j in range(k)]
         for i in range(k)]
    b = [row[f"b{i}"] for i in range(k)]
    return g, b, row["n"]


def solve_spd_r6(g: Sequence[Sequence[int]], b: Sequence[int],
                 ridge: int = RIDGE_LAMBDA) -> List[float]:
    """Gaussian elimination (no pivoting; ridge makes the matrix SPD)
    with round6 after EVERY arithmetic result — the exact operation
    schedule the SQL oracle unrolls (__spark_entry__._ridge_chain must
    mirror any change here step for step)."""
    k = len(g)
    a = [[float(g[i][j]) + (ridge if i == j else 0) for j in range(k)]
         + [float(b[i])] for i in range(k)]
    for p in range(k):
        for i in range(p + 1, k):
            f = round6(a[i][p] / a[p][p])
            for j in range(p, k + 1):
                a[i][j] = round6(a[i][j] - round6(f * a[p][j]))
    w = [0.0] * k
    for i in range(k - 1, -1, -1):
        acc = a[i][k]
        for j in range(i + 1, k):
            acc = round6(acc - round6(a[i][j] * w[j]))
        w[i] = round6(acc / a[i][i])
    return w


def ridge_fit(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> List[float]:
    """Fit the length-from-structure ridge model; returns the k
    weights (6-dp doubles) driver-side."""
    g, b, _ = gram_moments(doc_features(df, text_col, id_col))
    return solve_spd_r6(g, b)


def ridge_weights_df(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """The fitted model as a k-row DataFrame (feature name, weight)."""
    w = ridge_fit(df, text_col, id_col)
    rows = [(i, FEATURES[i], w[i]) for i in range(len(w))]
    return df.sparkSession.createDataFrame(
        rows, "feature_idx int, feature string, weight double")


def ridge_score(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Score every document with the fitted model: yhat folded into
    codegen as LITERAL weights (the model-shipping shape — no join at
    serving time), micro-int rounded; residual as exact micro int."""
    w = ridge_fit(df, text_col, id_col)
    feat = doc_features(df, text_col, id_col)
    yhat = F.lit(w[0]) * F.col("x0")
    for i in range(1, len(w)):
        yhat = yhat + F.lit(w[i]) * F.col(f"x{i}")
    # left-to-right sum, 6-dp round, then micro units — the oracle
    # parenthesizes identically
    yr = round6_binary(yhat)
    return (feat.select(F.col(id_col), "y", micro(yr).alias("yhat_micro"))
            .withColumn("resid_micro",
                        F.col("y") * F.lit(1_000_000)
                        - F.col("yhat_micro")))


# ---------------------------------------------------------------------------
# Logistic regression (full-batch GD) — the classifier sibling
# ---------------------------------------------------------------------------

FEATURE_SCALE = 100.0  # x/100 keeps w.x in sigmoid's responsive range
LOGREG_LR = 0.5
LOGREG_ITERS = 3


def _scaled_z(weights: Sequence[float]) -> Column:
    """w . (x / FEATURE_SCALE), left-associated like ridge_score."""
    z = F.lit(weights[0]) * (F.col("x0") / F.lit(FEATURE_SCALE))
    for i in range(1, len(weights)):
        z = z + F.lit(weights[i]) * (F.col(f"x{i}") / F.lit(FEATURE_SCALE))
    return z


def logreg_fit(feat: DataFrame, iters: int = LOGREG_ITERS,
               lr: float = LOGREG_LR) -> List[float]:
    """Full-batch gradient descent for logistic regression — the
    fastText-shaped quality-classifier fit of LLM data pipelines
    (label a slice, fit a cheap linear model, score the corpus).

    Each iteration is ONE corpus aggregate: per row the sigmoid error
    is 6-dp rounded and micro-int'ed per feature BEFORE the sum, so the
    k gradient sums are exact int64 (fold-order independent); the
    weight update runs driver-side with the same r6-after-every-op
    schedule the SQL oracle unrolls per iteration. The driver sync is
    k longs + a count per iteration — bounded, corpus-independent.

    ``feat`` must carry integer columns x0..x3 and a 0/1 ``y01``.
    sigmoid's exp is the one op trusted to libm parity (same contract
    as the bm25/tfidf ln) — everything else is exact or 6-dp gridded.
    """
    k = 4
    n = None
    w = [0.0] * k
    with util.cache_scope() as scope:
        feat, _ = scope.cache(feat)
        for _ in range(iters):
            z = round6_binary(_scaled_z(w))
            p = round6_binary(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))
            err = p - F.col("y01")
            aggs = []
            for j in range(k):
                e = round6_binary(err * (F.col(f"x{j}")
                                         / F.lit(FEATURE_SCALE)))
                aggs.append(F.sum(micro(e)).alias(f"g{j}"))
            aggs.append(F.count(F.lit(1)).alias("n"))
            row = feat.agg(*aggs).collect()[0]
            n = row["n"]
            for j in range(k):
                gbar = round6((row[f"g{j}"] / 1000000.0) / n)
                w[j] = round6(w[j] - round6(lr * gbar))
        return w


def logreg_weights_df(df: DataFrame, label: Column,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Fit the classifier on doc_features + ``label`` (0/1 column
    expression over ``df``); returns the k weights as a DataFrame."""
    feat = (doc_features(df, text_col, id_col)
            .join(df.select(F.col(id_col),
                            label.cast("long").alias("y01")), id_col))
    w = logreg_fit(feat)
    rows = [(i, FEATURES[i], w[i]) for i in range(len(w))]
    return df.sparkSession.createDataFrame(
        rows, "feature_idx int, feature string, weight double")


def pca_top_component(emb: DataFrame, id_col: str = "vec_id",
                      vec_col: str = "embedding", iters: int = 2,
                      quant: int = 1000) -> DataFrame:
    """Top principal direction of the (uncentered) embedding second-
    moment matrix by power iteration — the whitening/anisotropy audit
    an embedding pipeline runs (a dominant raw direction means the
    encoder wastes capacity; PCA-proper would subtract means first,
    uncentered keeps every step integer-exact).

    Engine-exact recipe (the ridge_fit discipline):
      1. coordinates quantize to milli ints (fixture |x| <= ~0.6);
      2. Gram G = Q^T Q via a partition-local numpy partial — int64
         products are EXACT in any summation order, so the BLAS-fast
         combiner is bit-safe — then one (i, j)-grouped SUM over
         <= dim^2 rows per partition (the only shuffle);
      3. ``iters`` power rounds DRIVER-side on the collected dim x dim
         integer grid (the bounded k-means-style sync): w = G.v in
         exact python ints, renormalized to milli by
         v_i <- sign(w_i) * (2*quant*|w_i| + M) // (2*M), M = max|w| —
         pure integer half-up, replayed verbatim by the SQL oracle's
         unrolled CTE rounds.
    Returns dim rows: (pos 1-based, v_milli) — the direction in milli
    units (sign fixed by the all-positive seed)."""
    spark = emb.sparkSession
    parts = emb.select(vec_col).mapInPandas(
        gram_parts_fn(vec_col, quant), "i int, j int, g long")
    rows = (parts.groupBy("i", "j")
            .agg(F.sum("g").cast("long").alias("g")).collect())
    return spark.createDataFrame(
        power_rounds(rows, iters, quant), "pos int, v_milli long")


def gram_parts_fn(vec_col: str, quant: int):
    """Partition-local exact-int64 Gram partial for mapInPandas (batch
    AND streaming: the fn is stateless per partition/micro-batch, so
    the same code drives both and the grouped SUM merges partials) —
    emits <= dim^2 (i, j, g) rows per partition."""
    import numpy as np
    import pandas as pd

    def gram_parts(it):
        acc = None
        for pdf in it:
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            q = (np.sign(x) * np.floor(np.abs(x) * quant + 0.5)) \
                .astype(np.int64)
            g = q.T @ q
            acc = g if acc is None else acc + g
        if acc is not None:
            dim = acc.shape[0]
            ii, jj = np.meshgrid(np.arange(1, dim + 1),
                                 np.arange(1, dim + 1), indexing="ij")
            yield pd.DataFrame({"i": ii.ravel(), "j": jj.ravel(),
                                "g": acc.ravel()})

    return gram_parts


def power_rounds(rows, iters: int, quant: int) -> list:
    """The driver-side power-iteration tail over collected (i, j, g)
    Gram rows — pure integer arithmetic, shared by the batch and
    streaming PCA so the rounds can never desynchronize from the SQL
    oracle's unrolled replay. Returns [(pos 1-based, v_milli)]."""
    dim = max(r["i"] for r in rows)
    G = [[0] * dim for _ in range(dim)]
    for r in rows:
        G[r["i"] - 1][r["j"] - 1] = int(r["g"])
    v = [quant] * dim
    for _ in range(iters):
        w = [sum(G[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        m = max(abs(x) for x in w)
        if m == 0:  # all-zero corpus: direction undefined, keep seed
            break
        v = [(-1 if x < 0 else 1) * ((2 * quant * abs(x) + m) // (2 * m))
             for x in w]
    return [(i + 1, int(v[i])) for i in range(dim)]
