"""Streaming model serving: offline-trained weights, online scoring.

The production deployment shape for the mlfit family — the ridge model
is fitted ONCE on the batch corpus (driver-side constants), then folded
into the streaming plan as literals: scoring is a stateless projection
(no state store at all), and the per-language quality monitor is a
plain streaming groupBy whose state is one row per language. Train
offline / serve online, with the exact same arithmetic as the batch
twin — the oracle is a single composed SQL replay.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.mlfit import doc_features, ridge_fit
from ..operators.util import micro, round6_binary
from ..sources.fixtures import load_documents_stream, load_table
from .runner import run_bounded_complete


def streaming_ridge_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language streaming quality monitor: ridge yhat/residual
    sums over the document stream, model fitted offline on the batch
    corpus. Output one row per lang (n_docs, yhat_micro_sum,
    resid_micro_sum) — integer-exact, equal to the batch aggregate on
    the bounded replay."""
    w = ridge_fit(load_table(spark, sf_dir, "documents"))
    stream = load_documents_stream(spark, sf_dir)
    feat = doc_features(stream, extra_cols=("lang",))
    yhat = F.lit(w[0]) * F.col("x0")
    for i in range(1, len(w)):
        yhat = yhat + F.lit(w[i]) * F.col(f"x{i}")
    yr = round6_binary(yhat)
    ym = micro(yr)
    scored = feat.select("lang", "y", ym.alias("yhat_micro"))
    agg = (scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("yhat_micro").alias("yhat_micro_sum"),
        F.sum(F.col("y") * F.lit(1_000_000) - F.col("yhat_micro"))
        .alias("resid_micro_sum")))
    return run_bounded_complete(agg, "stream_ridge_",
                                source_paths=(f"{sf_dir}/documents.parquet",))


def streaming_pca(spark: SparkSession, sf_dir: str, iters: int = 2,
                  quant: int = 1000) -> DataFrame:
    """Streaming top-principal-direction monitor: the exact-int64 Gram
    is the streaming aggregate — mapInPandas partials per micro-batch
    (stateless; integer sums merge in any order) into a grouped SUM
    whose state is CONSTANT dim^2 rows for an unbounded stream (the
    streaming_hll class: the sketch is the eviction policy). The
    power-iteration rounds run as the shared driver tail
    (operators/mlfit.py power_rounds — one definition with the batch
    pca_top_component), so the bounded replay equals batch and the
    oracle is SHARED with pca_power."""
    import pyspark.sql.functions as F

    from ..operators.mlfit import gram_parts_fn, power_rounds
    from ..sources.fixtures import load_embeddings_stream
    from .runner import run_bounded_complete
    stream = load_embeddings_stream(spark, sf_dir).select("embedding")
    parts = stream.mapInPandas(gram_parts_fn("embedding", quant),
                               "i int, j int, g long")
    gram = parts.groupBy("i", "j").agg(F.sum("g").cast("long").alias("g"))
    rows = run_bounded_complete(gram, "stream_pca_",
                                source_paths=(
                                    f"{sf_dir}/embeddings.parquet",)).collect()
    return spark.createDataFrame(power_rounds(rows, iters, quant),
                                 "pos int, v_milli long")
