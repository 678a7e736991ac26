"""Unit tests for the round-9 eval operators: multiclass MCC, average
precision, ECE, Spearman/Kendall rank correlation, and RRF fusion —
hand-computed expectations on small inputs plus the degenerate edges
the oracles never exercise."""

import pytest

import math

import pyspark.sql.functions as F

from datafusion_geo_spark.operators.evals import (
    average_precision, ece_from_scores, kendall_overlap, mcc_multiclass,
    rrf_fuse, rrf_weights_micro, spearman_overlap)


def _ranking(spark, rows):
    return spark.createDataFrame(
        rows, "query_id long, neighbor_id long, rank int")


def test_mcc_binary_matches_closed_form(spark):
    # binary confusion: TP=40 FN=10 FP=5 TN=45
    conf = spark.createDataFrame(
        [(1, 1, 40), (1, 0, 10), (0, 1, 5), (0, 0, 45)],
        "y_true int, y_pred int, n int")
    row = mcc_multiclass(conf, "y_true", "y_pred", "n").collect()[0]
    tp, fn, fp, tn = 40, 10, 5, 45
    want = (tp * tn - fp * fn) / math.sqrt(
        (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))
    assert row["n_total"] == 100 and row["trace"] == 85
    assert abs(row["mcc"] - want) < 1.1e-6  # 6-dp rounding
    # perfect predictor on 3 classes -> exactly 1
    perfect = spark.createDataFrame(
        [(k, k, 10 + k) for k in range(3)], "y_true int, y_pred int, n int")
    assert mcc_multiclass(perfect, "y_true", "y_pred", "n") \
        .collect()[0]["mcc"] == 1.0


def test_mcc_degenerate_marginal_is_null(spark):
    # predictor collapses to one class -> cc marginal = N^2 -> NULL
    conf = spark.createDataFrame(
        [(0, 0, 30), (1, 0, 20)], "y_true int, y_pred int, n int")
    assert mcc_multiclass(conf, "y_true", "y_pred", "n") \
        .collect()[0]["mcc"] is None


def test_average_precision_hand_example(spark):
    # scores desc: 3 -> (1 pos), 2 -> (1 pos, 1 neg), 1 -> (1 neg)
    # blocks: P@1 = 1/1, P@3 = 2/3; AP = (1*1 + 1*(2/3)) / 2
    rows = [(3, 1), (2, 1), (2, 0), (1, 0)]
    df = spark.createDataFrame(rows, "score long, y int")
    row = average_precision(df, "score", "y").collect()[0]
    assert (row["n_pos"], row["n_neg"], row["n_scores"]) == (2, 2, 3)
    want = (1.0 + 2.0 / 3.0) / 2.0
    assert abs(row["ap"] - want) < 1.1e-6
    # all-negative -> NULL (no positives to average over)
    neg = spark.createDataFrame([(1, 0), (2, 0)], "score long, y int")
    assert average_precision(neg, "score", "y").collect()[0]["ap"] is None


def test_ece_hand_example(spark):
    # bin 9 (conf .95): 2 rows, 1 pos -> |1e6 - 1.9e6| = 9e5
    # bin 0 (conf .05): 2 rows, 0 pos -> |0 - 1e5| = 1e5
    rows = [(950_000, 1), (950_000, 0), (50_000, 0), (50_000, 0)]
    df = spark.createDataFrame(rows, "conf_micro long, y int")
    row = ece_from_scores(df, "conf_micro", "y", n_bins=10).collect()[0]
    assert row["n_total"] == 4 and row["n_bins_used"] == 2
    assert row["gap_sum_micro"] == 900_000 + 100_000
    assert abs(row["ece"] - 0.25) < 1.1e-6
    # conf_micro = 1e6 lands in the LAST bin, not a phantom 11th
    top = spark.createDataFrame([(1_000_000, 1)], "conf_micro long, y int")
    assert ece_from_scores(top, "conf_micro", "y", 10) \
        .collect()[0]["n_bins_used"] == 1


def test_spearman_identical_reversed_and_short(spark):
    a = _ranking(spark, [(1, n, r) for r, n in enumerate([10, 11, 12], 1)]
                 + [(2, 20, 1), (3, 30, 1), (3, 31, 2)])
    same = spearman_overlap(a, a).collect()
    by_q = {r["query_id"]: r for r in same}
    assert by_q[1]["rho"] == 1.0 and by_q[3]["rho"] == 1.0
    assert by_q[2]["rho"] is None and by_q[2]["n_common"] == 1  # n < 2
    # reversed 3-list -> rho = -1
    b = _ranking(spark, [(1, 10, 3), (1, 11, 2), (1, 12, 1)])
    rev = {r["query_id"]: r for r in spearman_overlap(a, b).collect()}
    assert rev[1]["rho"] == -1.0 and rev[1]["d2_sum"] == 8
    assert rev[2]["n_common"] == 0 and rev[2]["rho"] is None


def test_kendall_hand_example(spark):
    # a: n1<n2<n3 ranks 1,2,3 ; b: ranks 2,1,3 -> one discordant pair
    a = _ranking(spark, [(1, 10, 1), (1, 11, 2), (1, 12, 3)])
    b = _ranking(spark, [(1, 10, 2), (1, 11, 1), (1, 12, 3)])
    row = kendall_overlap(a, b).collect()[0]
    assert (row["n_concordant"], row["n_discordant"]) == (2, 1)
    assert abs(row["tau"] - (2 - 1) / 3.0) < 1.1e-6
    assert kendall_overlap(a, a).collect()[0]["tau"] == 1.0


def test_rrf_fusion_hand_example(spark):
    W = rrf_weights_micro(10, 60)
    assert W[0] == round(1e6 / 61) and len(W) == 10
    a = _ranking(spark, [(1, 10, 1), (1, 11, 2)])
    b = _ranking(spark, [(1, 11, 1), (1, 12, 2)])
    out = {r["neighbor_id"]: r for r in rrf_fuse(a, b, k=10).collect()}
    # 11 appears in both lists -> W[2]+W[1] beats 10 (W[1]) and 12 (W[2])
    assert out[11]["rrf_micro"] == W[1] + W[0]
    assert out[10]["rrf_micro"] == W[0] and out[12]["rrf_micro"] == W[1]
    assert out[11]["rank"] == 1
    # deterministic tie-break: 10 and 12 tie on nothing here (W[0]>W[1])
    assert out[10]["rank"] == 2 and out[12]["rank"] == 3


@pytest.mark.slow
def test_kn_by_lang_equals_per_subset_run(spark):
    from datafusion_geo_spark.operators.text import (
        kn_bigram_perplexity, kn_bigram_perplexity_by)
    rows = []
    for i in range(60):
        lang = "en" if i % 2 == 0 else "fr"
        text = (f"the quick fox {i % 7} jumps over dog {i % 5}"
                if lang == "en" else f"le chat {i % 6} mange le poisson")
        rows.append((i, lang, text))
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    grouped = {r["lang"]: r for r in
               kn_bigram_perplexity_by(docs, "lang").collect()}
    for lang in ("en", "fr"):
        solo = kn_bigram_perplexity(
            docs.where(F.col("lang") == lang)).collect()[0]
        g = grouped[lang]
        for c in ("n_test_docs", "n_test_bigrams", "n_unseen_ctx",
                  "n_unseen_pair", "lp_micro_sum", "ppl_micro"):
            assert g[c] == solo[c], (lang, c, g[c], solo[c])


def test_f1_per_class_hand_matrix(spark):
    # true en: 8 predicted en, 2 predicted fr; true fr: 1 en, 9 fr
    conf = spark.createDataFrame(
        [("en", "en", 8), ("en", "fr", 2), ("fr", "en", 1), ("fr", "fr", 9)],
        "t string, p string, n int")
    from datafusion_geo_spark.operators.evals import f1_per_class
    out = {r["lbl"]: r for r in f1_per_class(conf, "t", "p", "n").collect()}
    en = out["en"]
    assert (en["n_true"], en["n_pred"], en["tp"]) == (10, 9, 8)
    assert abs(en["precision"] - 8 / 9) < 1.1e-6
    assert abs(en["recall"] - 0.8) < 1.1e-6
    assert abs(en["f1"] - 16 / 19) < 1.1e-6
    # a class present only in predictions: recall NULL, precision 0
    conf2 = spark.createDataFrame(
        [("en", "en", 5), ("en", "de", 5)], "t string, p string, n int")
    out2 = {r["lbl"]: r for r in
            f1_per_class(conf2, "t", "p", "n").collect()}
    assert out2["de"]["n_true"] == 0 and out2["de"]["recall"] is None
    assert out2["de"]["precision"] == 0.0 and out2["de"]["f1"] == 0.0


def test_js_divergence_identical_and_disjoint(spark):
    import math
    docs_a = spark.createDataFrame(
        [(1, "alpha beta beta"), (2, "gamma alpha")],
        "doc_id long, text string")
    from datafusion_geo_spark.operators.evals import js_unigram_divergence
    same = js_unigram_divergence(docs_a, docs_a).collect()[0]
    assert same["js"] == 0.0 and same["n_vocab_union"] == 3
    docs_b = spark.createDataFrame(
        [(3, "delta epsilon"), (4, "zeta delta")],
        "doc_id long, text string")
    dis = js_unigram_divergence(docs_a, docs_b).collect()[0]
    assert abs(dis["js"] - math.log(2)) < 2e-6  # disjoint supports
    assert dis["n_old_tokens"] == 5 and dis["n_new_tokens"] == 4


def test_pmi_top_bigrams_collocation(spark):
    import math
    # "san francisco" always adjacent; filler words independent
    rows = [(i, "san francisco " + " ".join(
        f"w{(i + j) % 4}" for j in range(6))) for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    from datafusion_geo_spark.operators.text import pmi_top_bigrams
    out = pmi_top_bigrams(docs, min_count=5, k=5).collect()
    top = out[0]
    assert (top["w1"], top["w2"]) == ("san", "francisco")
    # exact expectation: c12=20, c1=c2=20, N=160 tokens, B=140 bigrams
    want = math.log((20 * 160) / (20 * 20) * (160 / 140))
    assert abs(top["pmi_micro"] / 1e6 - want) < 2e-6
    # ranking is integer-deterministic: sorted by (pmi desc, w1, w2)
    keys = [(-r["pmi_micro"], r["w1"], r["w2"]) for r in out]
    assert keys == sorted(keys)


def test_streaming_ece_equals_batch(spark):
    import __spark_entry__ as entrymod
    sf = "/root/testdata/sf0.001"
    batch = entrymod.queries()["ece_eval"](spark, sf).collect()
    stream = entrymod.queries()["streaming_ece"](spark, sf).collect()
    assert [tuple(r) for r in batch] == [tuple(r) for r in stream]
