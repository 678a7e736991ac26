"""Streaming distribution-drift monitor: a two-sample KS statistic
maintained over an event stream.

State story (the reason this is deployable unbounded, like
streaming/sketch.py): the streaming aggregate is the per-quantized-
value histogram with per-side conditional counts — its state is
bounded by the quantization grid, NOT the stream length, so no
watermark and no TTL are needed. The order-dependent part (CDF sweep,
max gap) cannot nest inside a streaming aggregate (no chained
streaming aggregations) and doesn't need to: it runs as a tiny batch
query over the final histogram table, sharing ONE definition with the
batch operator (operators/evals.py ks_from_hist), so the streaming
monitor provably equals the batch statistic on the same data — which
is exactly what the shared DuckDB oracle checks on a bounded replay.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.evals import ks_from_hist
from ..sources.fixtures import load_events_stream
from .runner import run_bounded_complete


def streaming_ks(spark: SparkSession, sf_dir: str,
                 side_a: str = "click", side_b: str = "error",
                 scale: int = 10) -> DataFrame:
    """KS drift between two event types' quantized value distributions
    over the events stream, bounded-fixture runner. Output is the same
    one row as the batch ks_stat: (n_a, n_b, d_num, ks)."""
    ev = (load_events_stream(spark, sf_dir)
          .where(F.col("value").isNotNull()
                 & F.col("event_type").isin(side_a, side_b))
          .select("event_type",
                  F.floor(F.col("value") * scale).cast("long")
                   .alias("vq")))
    hist = (ev.groupBy("vq")
            .agg(F.sum(F.when(F.col("event_type") == side_a, 1)
                        .otherwise(0)).cast("long").alias("na_i"),
                 F.sum(F.when(F.col("event_type") == side_b, 1)
                        .otherwise(0)).cast("long").alias("nb_i")))
    final_hist = run_bounded_complete(hist, "stream_ks_",
                                      source_paths=(
                                          f"{sf_dir}/events.parquet",))
    return ks_from_hist(final_hist, "vq")


def streaming_quantiles(spark: SparkSession, sf_dir: str,
                        percents: tuple = (50, 90, 99),
                        scale: int = 100) -> DataFrame:
    """Streaming percentile monitor: the quantized-value histogram is
    the streaming aggregate (same bounded-state story as streaming_ks
    — state rows = quantization grid, no watermark), and the integer
    rank test runs as the shared batch tail
    (operators/evals.py quantiles_from_hist). Bounded replay equals
    batch hist_quantiles, so the oracle is shared."""
    from ..operators.evals import quantiles_from_hist
    ev = (load_events_stream(spark, sf_dir)
          .where(F.col("value").isNotNull())
          .select(F.floor(F.col("value") * scale).cast("long")
                   .alias("vq")))
    hist = ev.groupBy("vq").agg(F.count(F.lit(1)).cast("long")
                                .alias("cnt"))
    final_hist = run_bounded_complete(hist, "stream_quant_",
                                      source_paths=(
                                          f"{sf_dir}/events.parquet",))
    return quantiles_from_hist(final_hist, "vq", percents)


def streaming_cat_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming label-mix drift monitor: the per-category two-side
    histogram is the streaming aggregate (state rows = |categories|,
    no watermark), and the chi-squared + PSI statistics run as the
    shared batch tail (operators/evals.py cat_drift_from_hist — ONE
    definition with the batch categorical_drift). Bounded replay
    equals the batch statistic, so the oracle is shared with
    cat_drift."""
    from ..operators.evals import cat_drift_from_hist
    ev = (load_events_stream(spark, sf_dir)
          .where(F.col("event_type").isNotNull())
          .select("event_type",
                  (F.col("event_id") % 2 == 0).cast("int").alias("side")))
    hist = (ev.groupBy(F.col("event_type").alias("cat"))
            .agg(F.sum(F.col("side")).cast("long").alias("na_i"),
                 F.sum(F.lit(1) - F.col("side")).cast("long")
                 .alias("nb_i")))
    final_hist = run_bounded_complete(hist, "stream_catd_",
                                      source_paths=(
                                          f"{sf_dir}/events.parquet",))
    return cat_drift_from_hist(final_hist)


def streaming_ece(spark: SparkSession, sf_dir: str,
                  n_bins: int = 10) -> DataFrame:
    """Streaming calibration monitor: expected calibration error over
    the embeddings stream. The streaming aggregate is the per-bin
    (n, npos, conf_sum) histogram — state rows = n_bins, no watermark,
    no TTL (the streaming_ks story) — and the ECE identity runs as the
    shared batch tail (operators/evals.py ece_from_hist, ONE
    definition with the batch ece_from_scores). Confidence/label
    derivation mirrors the batch ece_eval query (e1 + 0.5 micro-
    quantized and clamped), so the bounded availableNow replay equals
    batch and the oracle is SHARED with ece_eval."""
    from ..operators.evals import ece_bin_col, ece_from_hist
    from ..sources.fixtures import load_embeddings_stream
    e1 = F.element_at(F.col("embedding"), 1).cast("double") + F.lit(0.5)
    cm = F.least(F.greatest(
        F.floor(e1 * F.lit(1e6) + F.lit(0.5)).cast("long"), F.lit(0)),
        F.lit(1_000_000))
    scored = (load_embeddings_stream(spark, sf_dir)
              .select(cm.alias("conf_micro"),
                      (F.col("label") < 5).cast("long").alias("y")))
    bins = (scored.select(ece_bin_col("conf_micro", n_bins).alias("bin"),
                          F.col("conf_micro").alias("cm"), "y")
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum("y").cast("long").alias("npos"),
                 F.sum("cm").cast("long").alias("conf_sum")))
    final_bins = run_bounded_complete(bins, "stream_ece_",
                                      source_paths=(
                                          f"{sf_dir}/embeddings.parquet",))
    return ece_from_hist(final_bins)


def streaming_wer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming rewrite-drift monitor: corpus word error rate of the
    substitute-and-delete perturbation over the documents stream. The
    streaming aggregate is the global 4-long totals row
    (operators/evals.py wer_aggs — commutative int64 sums, state = ONE
    row, no watermark, the streaming_ks story); the per-row
    encode + built-in levenshtein projection and the exact 6-dp tail
    are SHARED with batch wer_eval (wer_row_cols / wer_finalize), so
    the bounded availableNow replay equals batch and the oracle is
    SHARED with wer_eval."""
    from ..operators.evals import wer_aggs, wer_finalize, wer_row_cols
    from ..sources.fixtures import _spread_stream, load_documents_stream
    from .runner import run_bounded_complete
    # r11 (guide §2.1 / §1.2): spread the one-file stream source across
    # the cores BEFORE the per-pair encode+levenshtein projection — the
    # file-stream source yields one partition per input file, so the
    # heavy row map otherwise runs serially (17.6 s vs 1.2 s for the
    # identical batch projection). Only `text` crosses the exchange.
    d = (_spread_stream(load_documents_stream(spark, sf_dir)
                        .select("text"))
         .select(F.col("text").alias("ref"),
                 F.regexp_replace(F.col("text"), r"\bdata\b", "info")
                 .alias("_t2")))
    pairs = d.select(
        "ref", F.expr("substring(_t2, instr(_t2, ' ') + 1)")
        .alias("cand"))
    per = pairs.select(*wer_row_cols("cand", "ref"))
    totals = per.groupBy().agg(*wer_aggs())
    src = (f"{sf_dir}/documents.parquet",)
    return wer_finalize(run_bounded_complete(totals, "stream_wer_",
                                             source_paths=src))


def streaming_unigram_fertility(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Streaming tokenizer-fertility monitor: the per-language
    unigram-LM fertility report maintained as a bounded streaming
    aggregate (state = |langs| rows of 3 commutative int64 sums, no
    watermark — the streaming_wer story). The model is the OFFLINE
    fit (operators/unigram.py unigram_train, shared process memo with
    unigram_vocab — fit batch, monitor the stream); the per-word
    Viterbi token counts (word_token_table, stream-static broadcast
    join) and the exact 6-dp tail (fertility_finalize) are SHARED
    with the batch report, so the bounded availableNow replay equals
    batch unigram_fertility and the oracle is SHARED."""
    from ..operators.text import words_col
    from ..operators.unigram import (MAX_WORD, fertility_finalize,
                                     unigram_train, word_token_table)
    from ..sources.fixtures import load_documents_stream, load_table
    from .runner import run_bounded_complete
    batch = load_table(spark, sf_dir, "documents")
    fitted = unigram_train(batch, rounds=2, seed_multi_cap=128,
                           vocab_multi_cap=64,
                           cache_key=(sf_dir, "documents"))
    # r11 (guide §1.2 "the distributed algorithm"): the DP runs once
    # per DISTINCT word in the checkpointed word-token table (same
    # frame the batch report joins), and the stream side is a
    # stateless stream-static broadcast join — the previous shape
    # re-ran the Viterbi fold inline per word OCCURRENCE per document
    # and measured 95.6 s at sf0.1 vs the batch report's 1.1 s.
    # Summing the per-word values over occurrences equals the
    # per-document fold exactly (the DP is deterministic per word);
    # the dict covers every stream word by construction (same corpus,
    # same length filter). State stays |langs| rows of 3 int64 sums.
    toks = word_token_table(batch, fitted,
                            cache_key=(sf_dir, "documents"))
    s = (load_documents_stream(spark, sf_dir)
         .select(F.col("lang"),
                 F.explode(words_col(F.col("text"))).alias("w"))
         .where((F.col("w") != "") & (F.length("w") <= MAX_WORD))
         .join(F.broadcast(toks), "w"))
    totals = (s.groupBy("lang")
              .agg(F.count(F.lit(1)).cast("long").alias("n_words"),
                   F.sum("wtoks").cast("long").alias("n_tokens"),
                   F.sum("wchars").cast("long").alias("n_chars")))
    return fertility_finalize(
        run_bounded_complete(totals, "stream_ufert_",
                             source_paths=(f"{sf_dir}/documents.parquet",)))
