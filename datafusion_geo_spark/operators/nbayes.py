"""Multinomial Naive Bayes text classifier — the counting-only fit.

The classic supervised lang/domain/source router a curation pipeline
drops in front of expensive scorers: train = THREE grouped corpus
aggregates (class doc counts, class token totals, class-word counts),
predict = one broadcast of the dict-sized class table plus one equi-join
on the word. There is no iterative step and no driver-side solve at all
— the entire model IS a pair of count tables, which makes this the most
scale-friendly fit in the repo (one corpus pass to train, one to score,
both partial+final aggregates).

Smoothing is add-one (Laplace) over the corpus vocabulary V. The
argmax uses the exact-integer discipline (evals.py): every ln() factor
is micro-int'ed (signed 6-dp, floor-half-up) BEFORE the per-document
sum, so class scores are exact int64 and the argmax + tie-break
(score desc, label asc) replays bit-for-bit in any engine:

    score(d, l) = micro(ln(docs_l / D))
                  - T_d * micro(ln(N_l + V))
                  + sum_w n_dw * micro(ln(c_wl + 1))

The sparse trick that keeps prediction join-shaped: words with
c_wl = 0 contribute n_dw * micro(ln(1)) = 0, so the per-word sum only
needs (doc-word) x (class-word, c > 0) — an inner equi-join on the
word, never a doc x vocab x class grid. Unseen-at-predict-time words
fold into the T_d * ln(N_l + V) term automatically (their numerator
ln(0 + 1) is zero), so scoring a NEW corpus against a trained model is
the same plan.

100 TB shape: the word join shuffles on the word key (hot stopwords
behave like BM25's — AQE skew handling applies); the class table is
L rows and broadcast; per-doc windows are bounded by L. No all-pairs,
no driver collect, no Python.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from .text import words_col
from .util import micro


def _tok(docs: DataFrame, label_col: str, text_col: str,
         id_col: str) -> DataFrame:
    """(id, label, w): one row per token, empty tokens dropped."""
    return (docs
            .select(F.col(id_col), F.col(label_col).alias("_l"),
                    F.explode(words_col(F.col(text_col))).alias("w"))
            .where(F.col("w") != ""))


def nb_class_table(docs: DataFrame, label_col: str = "lang",
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Per-class model constants: (label, n_docs, n_tokens,
    prior_micro, lnden_micro). L rows — broadcast-sized by definition
    (the class cardinality of any real router is tiny). The corpus
    scalars D (total docs) and V (distinct vocabulary) fold in via
    windows over this dict-sized frame / a one-row cross."""
    tok = _tok(docs, label_col, text_col, id_col)
    cls = (docs.groupBy(F.col(label_col).alias("_l"))
           .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))
    ctok = (tok.groupBy("_l")
            .agg(F.count(F.lit(1)).cast("long").alias("n_tokens")))
    vrow = tok.agg(F.countDistinct("w").cast("long").alias("_v"))
    w_all = Window.partitionBy()  # dict-sized frame: L rows
    out = (cls.join(ctok, "_l", "left")
           .crossJoin(F.broadcast(vrow))  # 1-row scalar carrier
           .select(
               F.col("_l").alias("label"), "n_docs",
               F.coalesce(F.col("n_tokens"), F.lit(0).cast("long"))
               .alias("n_tokens"),
               F.col("_v"),
               F.sum("n_docs").over(w_all).alias("_d")))
    return out.select(
        "label", "n_docs", "n_tokens",
        micro(F.log(F.col("n_docs").cast("double")
                      / F.col("_d").cast("double")))
        .alias("prior_micro"),
        micro(F.log((F.col("n_tokens") + F.col("_v"))
                      .cast("double"))).alias("lnden_micro"))


def nb_word_counts(docs: DataFrame, label_col: str = "lang",
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """The sparse likelihood table: (label, w, c, lnlik_micro) for
    c_wl > 0 only (zero-count cells contribute 0 by construction).
    Size is bounded by |vocab| x L — the model a 100 TB corpus ships
    to the predict join."""
    tok = _tok(docs, label_col, text_col, id_col)
    return (tok.groupBy(F.col("_l").alias("label"), "w")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .withColumn("lnlik_micro",
                        micro(F.log((F.col("c") + F.lit(1))
                                      .cast("double")))))


def nb_predict(docs: DataFrame, model_docs: DataFrame = None,
               label_col: str = "lang", text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Score + argmax: (id, label, pred_label, score_micro). Trains on
    ``model_docs`` (default: ``docs`` itself — resubstitution, the
    deterministic self-test shape) and scores every row of ``docs``,
    including zero-token ones (their score is the prior alone)."""
    train = model_docs if model_docs is not None else docs
    cls = nb_class_table(train, label_col, text_col, id_col)
    model = nb_word_counts(train, label_col, text_col, id_col)

    w = words_col(F.col(text_col))
    docstats = docs.select(
        F.col(id_col), F.col(label_col).alias("label"),
        F.size(F.filter(w, lambda x: x != "")).cast("long").alias("_t"))
    dw = (_tok(docs, label_col, text_col, id_col)
          .groupBy(id_col, "w")
          .agg(F.count(F.lit(1)).cast("long").alias("n")))
    t3 = (dw.join(model.select(F.col("label").alias("_cl"), "w",
                               "lnlik_micro"), "w")
          .groupBy(id_col, "_cl")
          .agg(F.sum(F.col("n") * F.col("lnlik_micro"))
               .cast("long").alias("s3")))
    scored = (docstats
              .join(F.broadcast(cls.select(F.col("label").alias("_cl"),
                                           "prior_micro",
                                           "lnden_micro")),
                    how="cross")
              .join(t3, [id_col, "_cl"], "left")
              .select(
                  F.col(id_col), "label", F.col("_cl"),
                  (F.col("prior_micro")
                   - F.col("_t") * F.col("lnden_micro")
                   + F.coalesce(F.col("s3"), F.lit(0).cast("long")))
                  .alias("score_micro")))
    rn = F.row_number().over(
        Window.partitionBy(id_col)
        .orderBy(F.col("score_micro").desc(), F.col("_cl")))
    return (scored.withColumn("_rn", rn).where(F.col("_rn") == 1)
            .select(F.col(id_col), "label",
                    F.col("_cl").alias("pred_label"), "score_micro"))


def nb_confusion(docs: DataFrame, model_docs: DataFrame = None,
                 label_col: str = "lang", text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """The router's acceptance report: (label, pred_label, n_docs)
    confusion counts — at most L x L rows whatever the corpus size."""
    return (nb_predict(docs, model_docs, label_col, text_col, id_col)
            .groupBy("label", "pred_label")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))
