"""Table profiling — the per-column audit a pipeline runs before and
after every transformation at 100 TB (did a join drop nulls? did a
rewrite collapse distinct values? did a column silently truncate?).

``table_profile`` melts the chosen columns to (col_name, val) rows and
computes one profile row per column in a single grouped aggregate:
row count, null count, exact distinct count, lexicographic min/max of
the string form, and total string length. The melt multiplies the scan
k-fold for k columns — the same cost Catalyst's expand node pays for a
multi-column COUNT(DISTINCT) aggregate, and the honest price of exact
distincts; swap the count_distinct for the HLL sketch
(operators/sketch.py hll_by_group) when approximate is acceptable.

Everything is integer counts or string min/max — exact in both
engines, no float discipline needed.
"""

from __future__ import annotations

from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .util import round6_binary

__all__ = ["table_profile", "skew_audit"]


def table_profile(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """One profile row per column of ``cols``: (col_name, n_rows,
    n_null, n_distinct, min_val, max_val, sum_len). Values are compared
    and measured in their canonical string form (CAST AS STRING), so
    min/max are lexicographic — identical in Spark and DuckDB for the
    ASCII fixtures — and sum_len is the total code-point length of
    non-null values."""
    melted = df.select(F.explode(F.array(*[
        F.struct(F.lit(c).alias("col_name"),
                 F.col(c).cast("string").alias("val"))
        for c in cols])).alias("kv")).select("kv.col_name", "kv.val")
    # distinct is counted on md5(val), not val: every other aggregate
    # here is a map-side partial (one min/max/sum per task crosses the
    # wire), but COUNT(DISTINCT) must ship each distinct value — hashing
    # first ships 32-byte digests instead of full document texts. Same
    # count modulo md5 collisions; the oracle hashes identically.
    return (melted.groupBy("col_name")
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.sum(F.when(F.col("val").isNull(), 1).otherwise(0))
                  .cast("long").alias("n_null"),
                 F.count_distinct(F.md5(F.col("val"))).cast("long")
                  .alias("n_distinct"),
                 F.min("val").alias("min_val"),
                 F.max("val").alias("max_val"),
                 F.coalesce(F.sum(F.length("val")), F.lit(0))
                  .cast("long").alias("sum_len")))


def skew_audit(df: DataFrame, key_col: str) -> DataFrame:
    """Key-skew audit of a prospective shuffle/join key: one row with
    n_keys, n_rows, max_size, p99_size (the size the 99th-percentile
    key reaches), and the exact Gini coefficient of the group-size
    distribution — the report that predicts whether groupBy/join on
    this key needs salting or AQE skew splitting BEFORE the job runs.

    Shape: groupBy(key) count (the only corpus shuffle), then a
    histogram OF SIZES (bounded by distinct sizes, not keys) carries
    everything else: p99 via the integer rank test and Gini via the
    tie-block rank identity — a block of f keys of size s starting
    after C smaller keys contributes ranks C+1..C+f, so
    sum(rank*size) = s*(f*C + f*(f+1)/2), all exact int64, and
    G = (2*sum(rank*size) - (n+1)*total) / (n*total) rounds once at
    6 dp. Overflow envelope: s*f*C <= rows*keys — beyond ~3e9*3e9
    rescale sizes first; the contract (exact ints, bounded sweep) is
    the scale-relevant part."""
    sizes = (df.where(F.col(key_col).isNotNull())
             .groupBy(key_col)
             .agg(F.count(F.lit(1)).cast("long").alias("sz")))
    hist = sizes.groupBy("sz").agg(F.count(F.lit(1)).cast("long")
                                   .alias("f"))
    from pyspark.sql import Window
    w = (Window.orderBy("sz")
         .rowsBetween(Window.unboundedPreceding, -1))
    cum = hist.withColumn(
        "c_before", F.coalesce(F.sum("f").over(w), F.lit(0)).cast("long"))
    # 2*s*(f*C + f*(f+1)/2) == 2*s*f*C + s*f*(f+1) — the second form is
    # pure int64 (f*(f+1) is even), no double division anywhere
    r2_block = (F.lit(2) * F.col("sz") * F.col("f") * F.col("c_before")
                + F.col("sz") * F.col("f") * (F.col("f") + F.lit(1))
                ).cast("long")
    # p99 needs n_keys per histogram row: a FULL-FRAME window over the
    # bounded histogram (NOT a crossJoin against a re-aggregation —
    # that would re-run the corpus-wide key count; this file's
    # table_profile note and evals.ks_from_hist explain the rule).
    # One histogram derivation -> one corpus pass total.
    wt = Window.partitionBy().rowsBetween(Window.unboundedPreceding,
                                          Window.unboundedFollowing)
    cum = (cum
           .withColumn("cum_incl",
                       (F.col("c_before") + F.col("f")).cast("long"))
           .withColumn("nk", F.sum("f").over(wt).cast("long")))
    agg = cum.agg(
        F.sum("f").cast("long").alias("n_keys"),
        F.sum(F.col("sz") * F.col("f")).cast("long").alias("n_rows"),
        F.max("sz").cast("long").alias("max_size"),
        F.sum(r2_block).alias("r2"),
        F.min(F.when(F.lit(100) * F.col("cum_incl")
                     >= F.lit(99) * F.col("nk"),
                     F.col("sz"))).cast("long").alias("p99_size"))
    gini_num = (F.col("r2")
                - (F.col("n_keys") + F.lit(1)) * F.col("n_rows"))
    gini_den = F.col("n_keys") * F.col("n_rows")
    g6 = round6_binary(gini_num.cast("double") / gini_den.cast("double"))
    return agg.select("n_keys", "n_rows", "max_size", "p99_size", "r2",
                      g6.alias("gini"))


def corr_matrix(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Pearson correlation MATRIX over k integer-quantized columns —
    the EDA staple, generalizing :func:`..evals.pearson_corr` from one
    pair to all of them with the identical exactness contract and
    STILL one corpus pass: a single partial+final aggregate of the
    k + k(k+1)/2 + 1 exact int64 moments (map-side combined — a
    handful of longs per task crosses the wire), then the closed form
    per pair on the one-row result, exploded to the upper triangle.

    Same overflow envelope as pearson_corr / the mlfit Gram note:
    n·S_xy must fit int64 — with |x| <= ~4e5 that holds to ~1e7 rows;
    quantize coarser for more. One row per unordered pair (i < j in
    ``cols`` order): (col_x, col_y, n_rows, cov_num, varx_num,
    vary_num, corr 6-dp); corr is NULL for a zero-variance column."""

    k = len(cols)
    if k < 2:
        raise ValueError("corr_matrix: need at least 2 columns")
    xs = [F.col(c).cast("long") for c in cols]
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    aggs += [F.sum(xs[i]).alias(f"s{i}") for i in range(k)]
    aggs += [F.sum(xs[i] * xs[j]).alias(f"s{i}_{j}")
             for i in range(k) for j in range(i, k)]
    one = df.agg(*aggs)
    pairs = []
    for i in range(k):
        for j in range(i + 1, k):
            cov = (F.col("n") * F.col(f"s{i}_{j}")
                   - F.col(f"s{i}") * F.col(f"s{j}"))
            vx = (F.col("n") * F.col(f"s{i}_{i}")
                  - F.col(f"s{i}") * F.col(f"s{i}"))
            vy = (F.col("n") * F.col(f"s{j}_{j}")
                  - F.col(f"s{j}") * F.col(f"s{j}"))
            r = (cov.cast("double")
                 / F.sqrt(vx.cast("double") * vy.cast("double")))
            pairs.append(F.struct(
                F.lit(cols[i]).alias("col_x"),
                F.lit(cols[j]).alias("col_y"),
                F.col("n").alias("n_rows"),
                cov.cast("long").alias("cov_num"),
                vx.cast("long").alias("varx_num"),
                vy.cast("long").alias("vary_num"),
                F.when((vx > 0) & (vy > 0), round6_binary(r)).alias("corr")))
    return (one.select(F.explode(F.array(*pairs)).alias("_p"))
            .select("_p.*"))


def mad_outliers(df: DataFrame, value_col: str,
                 group_cols: Sequence[str] = (),
                 k: int = 3) -> DataFrame:
    """Robust outlier audit by median absolute deviation — the
    data-cleaning staple that survives the outliers it hunts (mean/std
    break down exactly when you need them). For an INTEGER-quantized
    value column: med = histogram median (the hist_quantiles 'lower'
    rank test — pure int64 comparisons), MAD = median of |x - med|
    from a SECOND histogram, and a value is an outlier when
    |x - med| > k·MAD — with integer values and integer k the whole
    pipeline is exact integer arithmetic, no float anywhere but the
    final 6-dp rate.

    100 TB shape: two grouped-count corpus passes (each map-side
    combined, mergeable histograms); the outlier COUNT comes from the
    second histogram itself (sum of counts where dev > k·MAD), so
    there is no third pass. The med/MAD tables are group-sized and
    broadcast. One row per group (or one row total): (group...,
    n, med, mad, n_outliers, outlier_rate)."""
    from pyspark.sql import Window

    from .evals import hist_quantiles
    from .text import _ratio6

    gc = list(group_cols)
    med = (hist_quantiles(df, value_col, (50,), tuple(gc))
           .select(*gc, F.col("p50").alias("_med")))
    joined = (df.join(F.broadcast(med), gc) if gc
              else df.crossJoin(F.broadcast(med)))
    dev = joined.select(
        *gc, F.abs(F.col(value_col).cast("long") - F.col("_med"))
        .alias("_dev"))
    hist2 = (dev.groupBy(*gc, "_dev")
             .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    if gc:
        wc = (Window.partitionBy(*gc).orderBy("_dev")
              .rowsBetween(Window.unboundedPreceding,
                           Window.currentRow))
        wt = (Window.partitionBy(*gc)
              .rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing))
    else:
        wc = (Window.orderBy("_dev")
              .rowsBetween(Window.unboundedPreceding,
                           Window.currentRow))
        wt = Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)
    h = (hist2.withColumn("cum", F.sum("cnt").over(wc).cast("long"))
         .withColumn("n_total", F.sum("cnt").over(wt).cast("long")))
    mad_pick = F.min(F.when(
        F.lit(100) * F.col("cum") >= F.lit(50) * F.col("n_total"),
        F.col("_dev"))).alias("_mad")
    agg = h.groupBy(*gc).agg(F.max("n_total").alias("n"), mad_pick,
                             *[F.collect_list(
                                 F.struct("_dev", "cnt")).alias("_h")])
    out_n = F.aggregate(
        F.col("_h"), F.lit(0).cast("long"),
        lambda acc, s: acc + F.when(
            s["_dev"] > F.lit(int(k)) * F.col("_mad"),
            s["cnt"]).otherwise(F.lit(0).cast("long")))
    res = (agg.join(F.broadcast(med), gc) if gc
           else agg.crossJoin(F.broadcast(med)))
    return res.select(
        *gc, F.col("n"), F.col("_med").alias("med"),
        F.col("_mad").alias("mad"),
        out_n.alias("n_outliers"),
        _ratio6(out_n, F.col("n")).alias("outlier_rate"))


#: 6-dp micro constants of the Benford first-digit law
#: log10(1 + 1/d) — universal constants, embedded identically in the
#: operator and every oracle (half-up at the 6th decimal)
BENFORD_MICRO = (301030, 176091, 124939, 96910, 79181,
                 66947, 57992, 51153, 45757)


def benford_audit(df: DataFrame, value_col: str) -> DataFrame:
    """Benford's-law first-digit audit of a positive INTEGER column —
    the forensic data-quality screen (fabricated, truncated, or
    unit-mangled numeric columns fail it). The leading digit comes
    from the integer's decimal string (substr(cast(v as string),1,1)
    — integer-to-string is exact and identical in every engine; no
    log10 edge cases), so the nine observed counts are exact int64
    from ONE grouped aggregate. chi-square against the law uses the
    embedded micro constants: chi2 = sum_d (O_d - n*p_d)^2 / (n*p_d)
    written as nine EXPLICIT terms in fixed digit order — a single
    fixed double expression of exact ints (the house contract), 6-dp
    rounded once. Non-positive / NULL values are excluded and
    reported. ONE row out: (n, n_excluded, o1..o9, chi2).

    Factored as row-cols / aggs / finalize (the wer_eval pattern); the
    11 sums are commutative int64, so the aggregate is ONE row."""
    return benford_finalize(
        df.select(*benford_row_cols(value_col)).agg(*benford_aggs()))


def benford_row_cols(value_col: str):
    """Per-row projection: the positive value and its leading decimal
    digit (NULL when excluded)."""
    v = F.col(value_col).cast("long")
    pos = F.when(v > 0, v)
    return [pos.alias("_pv"),
            F.substring(pos.cast("string"), 1, 1).cast("int")
            .alias("_d1")]


def benford_aggs():
    """The 11 commutative int64 sums."""
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.when(F.col("_pv").isNull(), 1).otherwise(0))
            .cast("long").alias("n_excluded")]
    aggs += [F.sum(F.when(F.col("_d1") == d, 1).otherwise(0))
             .cast("long").alias(f"o{d}") for d in range(1, 10)]
    return aggs


def benford_finalize(totals: DataFrame) -> DataFrame:
    """The fixed-order nine-term chi-square tail over a totals row."""

    n = (F.col("n_rows") - F.col("n_excluded")).cast("long")
    chi = None
    for d in range(1, 10):
        e = n.cast("double") * F.lit(BENFORD_MICRO[d - 1] / 1e6)
        t = ((F.col(f"o{d}").cast("double") - e)
             * (F.col(f"o{d}").cast("double") - e)) / e
        chi = t if chi is None else chi + t
    return totals.select(
        n.alias("n"), "n_excluded",
        *[F.col(f"o{d}") for d in range(1, 10)],
        F.when(n > 0, round6_binary(chi)).alias("chi2"))
