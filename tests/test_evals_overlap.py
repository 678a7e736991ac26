"""Unit tests for the round-9 batch-3 overlap/agreement operators:
corpus BLEU, Adjusted Rand, Krippendorff's alpha, the novel-n-gram
rate, and the edit-distance similarity join (deletion-neighborhood
blocking vs a brute-force built-in-levenshtein cross)."""

import math

import pyspark.sql.functions as F
import pytest

from datafusion_geo_spark.operators.edit_join import (deletion_variants,
                                                      edit_distance_join)
from datafusion_geo_spark.operators.evals import (adjusted_rand,
                                                  bleu_corpus,
                                                  krippendorff_alpha)
from datafusion_geo_spark.operators.text import novel_ngram_rate


# ------------------------------------------------------------- BLEU

def test_bleu_identity_is_one(spark):
    p = spark.createDataFrame(
        [(1, "a b c d e", "a b c d e"), (2, "x y z w q r", "x y z w q r")],
        ["doc_id", "cand", "ref"])
    r = bleu_corpus(p, "cand", "ref").collect()[0]
    assert r.bleu == 1.0
    assert (r.m1, r.t1) == (r.m1, r.m1)  # perfect clip
    assert r.c_len == r.r_len == 11


def test_bleu_hand_value(spark):
    # doc1 identical (6 words, 'the' twice); doc2 a 3-word subsequence
    p = spark.createDataFrame(
        [(1, "the cat sat on the mat", "the cat sat on the mat"),
         (2, "cat sat mat", "the cat sat on the mat")],
        ["doc_id", "cand", "ref"])
    r = bleu_corpus(p, "cand", "ref").collect()[0]
    assert (r.m1, r.t1, r.m2, r.t2, r.m3, r.t3, r.m4, r.t4) == \
        (9, 9, 6, 7, 4, 5, 3, 3)
    logsum = sum(math.log(m / t)
                 for m, t in [(9, 9), (6, 7), (4, 5), (3, 3)])
    want = math.exp(1 - 12 / 9) * math.exp(logsum / 4)
    assert r.bleu == pytest.approx(round(want, 6), abs=1e-9)


def test_bleu_null_on_zero_match_order_with_honest_counts(spark):
    p = spark.createDataFrame([(1, "a b", "c d")],
                              ["doc_id", "cand", "ref"])
    r = bleu_corpus(p, "cand", "ref").collect()[0]
    assert r.bleu is None
    assert (r.m1, r.t1, r.m2, r.t2, r.m3, r.t3, r.m4, r.t4) == \
        (0, 2, 0, 1, 0, 0, 0, 0)


def test_bleu_brevity_penalty_direction(spark):
    # same clipped precisions, shorter candidate -> lower BLEU
    long_pair = [(1, "a b c d e f", "a b c d e f")]
    short_pair = [(1, "a b c d", "a b c d e f")]
    b_long = bleu_corpus(spark.createDataFrame(
        long_pair, ["doc_id", "cand", "ref"]), "cand", "ref") \
        .collect()[0].bleu
    b_short = bleu_corpus(spark.createDataFrame(
        short_pair, ["doc_id", "cand", "ref"]), "cand", "ref") \
        .collect()[0].bleu
    assert b_long == 1.0
    assert b_short < 1.0  # p_n all 1 but bp = exp(1 - 6/4) < 1
    assert b_short == pytest.approx(round(math.exp(1 - 6 / 4), 6),
                                    abs=1e-9)


# ---------------------------------------------------- Adjusted Rand

def test_ari_identical_partitions(spark):
    conf = spark.createDataFrame([("x", "p", 7), ("y", "q", 5)],
                                 ["a", "b", "n"])
    r = adjusted_rand(conf, "a", "b", "n").collect()[0]
    assert r.ari == 1.0


def test_ari_label_permutation_invariant(spark):
    # same grouping, swapped label names on one side -> still 1.0
    conf = spark.createDataFrame([("x", "q", 7), ("y", "p", 5)],
                                 ["a", "b", "n"])
    assert adjusted_rand(conf, "a", "b", "n").collect()[0].ari == 1.0


def test_ari_hand_value(spark):
    conf = spark.createDataFrame(
        [("x", "p", 10), ("x", "q", 2), ("y", "q", 8), ("y", "p", 1)],
        ["a", "b", "n"])
    r = adjusted_rand(conf, "a", "b", "n").collect()[0]

    def c2(x):
        return x * (x - 1) // 2

    sij = c2(10) + c2(2) + c2(8) + c2(1)
    sa, sb, n2 = c2(12) + c2(9), c2(11) + c2(10), c2(21)
    e = sa * sb / n2
    want = (sij - e) / ((sa + sb) / 2 - e)
    assert (r.n_total, r.sum_ab_pairs, r.sum_a_pairs, r.sum_b_pairs) \
        == (21, sij, sa, sb)
    assert r.ari == pytest.approx(round(want, 6), abs=1e-9)


def test_ari_null_when_degenerate(spark):
    # both sides one group: denominator 0 -> NULL
    conf = spark.createDataFrame([("x", "p", 9)], ["a", "b", "n"])
    assert adjusted_rand(conf, "a", "b", "n").collect()[0].ari is None


# ---------------------------------------------- Krippendorff alpha

def test_alpha_perfect_agreement(spark):
    u = spark.createDataFrame([(1, "a", "a", "a"), (2, "b", "b", "b")],
                              ["doc_id", "r1", "r2", "r3"])
    r = krippendorff_alpha(u, ["r1", "r2", "r3"]).collect()[0]
    assert r.alpha == 1.0 and r.o_mis2 == 0


def test_alpha_hand_value(spark):
    u = spark.createDataFrame(
        [(1, "a", "a", "a"), (2, "a", "a", "b"), (3, "b", "b", "b"),
         (4, "a", "b", "b"), (5, "b", "b", "a")],
        ["doc_id", "r1", "r2", "r3"])
    r = krippendorff_alpha(u, ["r1", "r2", "r3"]).collect()[0]
    n, na = 15, 7
    om2 = 2 * (0 + 2 + 0 + 2 + 2)
    nn = n * n - (na * na + (n - na) * (n - na))
    want = 1 - (n - 1) * om2 / (2 * nn)
    assert (r.n_units, r.n_ratings, r.o_mis2, r.nn_mis) == \
        (5, n, om2, nn)
    assert r.alpha == pytest.approx(round(want, 6), abs=1e-9)


def test_alpha_null_on_single_label(spark):
    u = spark.createDataFrame([(1, "a", "a", "a")],
                              ["doc_id", "r1", "r2", "r3"])
    assert krippendorff_alpha(u, ["r1", "r2", "r3"]) \
        .collect()[0].alpha is None


def test_alpha_two_raters_matches_direct_formula(spark):
    # m=2 sanity: alpha = 1 - (n-1)*2*mism / (1 * (n^2 - sum nc^2))
    u = spark.createDataFrame(
        [(1, "a", "a"), (2, "a", "b"), (3, "b", "b"), (4, "b", "a")],
        ["doc_id", "r1", "r2"])
    r = krippendorff_alpha(u, ["r1", "r2"]).collect()[0]
    n, na = 8, 4
    om2, nn = 2 * 2, n * n - 2 * na * na
    want = 1 - (n - 1) * om2 / nn
    assert r.alpha == pytest.approx(round(want, 6), abs=1e-9)


# ------------------------------------------------- novel n-grams

def test_novel_ngram_rate_hand_corpus(spark):
    # doc_ids chosen so the md5 coin puts 1 in train, 3 in eval for
    # this fixed split (verified below against the same h64 coin)
    from datafusion_geo_spark.operators.dedup import h64
    rows = [(i, "w%d x y z" % (i % 2), "en") for i in range(8)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    coin = df.select("doc_id", (h64(F.col("doc_id").cast("string"))
                                % F.lit(10000) < 9000).alias("tr")) \
        .collect()
    train_ids = {r.doc_id for r in coin if r.tr}
    eval_ids = {r.doc_id for r in coin if not r.tr}
    if not eval_ids or not train_ids:
        pytest.skip("degenerate coin for this tiny fixture")

    def grams(i):
        w = ("w%d x y z" % (i % 2)).split()
        return {" ".join(w[j:j + 3]) for j in range(len(w) - 2)}

    tr = set().union(*[grams(i) for i in train_ids])
    ev = set().union(*[grams(i) for i in eval_ids])
    want_novel = len(ev - tr)
    r = novel_ngram_rate(df).collect()
    assert len(r) == 1 and r[0].lang == "en"
    assert r[0].n_eval_grams == len(ev)
    assert r[0].n_novel_grams == want_novel


# ------------------------------------------------- edit join

def test_deletion_variants_cover_distance_k(spark):
    # every string at deletion distance <= 2 is in the neighborhood
    df = spark.createDataFrame([("abcde",)], ["s"])
    got = set(df.select(F.explode(deletion_variants(F.col("s"), 2))
                        .alias("v")).toPandas()["v"])
    s = "abcde"
    want = {s}
    d1 = {s[:i] + s[i + 1:] for i in range(len(s))}
    want |= d1
    for t in d1:
        want |= {t[:i] + t[i + 1:] for i in range(len(t))}
    assert got == want


def test_edit_join_matches_bruteforce_cross(spark):
    import random
    rng = random.Random(42)
    strs = list({"".join(rng.choice("abc") for _ in range(rng.randint(0, 6)))
                 for _ in range(60)} - {""})
    df = spark.createDataFrame([(s,) for s in strs], ["t"])
    for k in (1, 2):
        got = {(r.a, r.b, r.dist)
               for r in edit_distance_join(df, "t", k=k).collect()}
        a = df.select(F.col("t").alias("a"))
        b = df.select(F.col("t").alias("b"))
        brute = {(r.a, r.b, r.dist) for r in
                 a.crossJoin(b)
                 .where(F.col("a") < F.col("b"))
                 .withColumn("dist", F.levenshtein("a", "b")
                             .cast("long"))
                 .where(F.col("dist") <= k).collect()}
        assert got == brute, (k, got ^ brute)


def test_edit_join_drops_null_and_blank(spark):
    df = spark.createDataFrame([("ab",), ("abc",), (None,), ("  ",)],
                               ["t"])
    got = edit_distance_join(df, "t", k=1).collect()
    assert [(r.a, r.b, r.dist) for r in got] == [("ab", "abc", 1)]


def test_edit_join_rejects_bad_k(spark):
    df = spark.createDataFrame([("ab",)], ["t"])
    with pytest.raises(ValueError):
        edit_distance_join(df, "t", k=3)


# ------------------------------------------------- WER

def test_wer_hand_values(spark):
    from datafusion_geo_spark.operators.evals import word_error_rate
    p = spark.createDataFrame(
        [(1, "the cat sat", "the cat sat"),       # 0 edits / 3
         (2, "cat sat mat", "the cat sat mat"),   # 1 deletion / 4
         (3, "a b c", "a x c")],                  # 1 substitution / 3
        ["doc_id", "cand", "ref"])
    r = word_error_rate(p, "cand", "ref").collect()[0]
    assert (r.n_docs, r.n_skipped, r.sum_edits, r.sum_ref_words) == \
        (3, 0, 2, 10)
    assert r.wer == 0.2


def test_wer_reordering_counts_real_edits(spark):
    # swap is 2 edits, not 0 — the DP runs for real, nothing analytic
    from datafusion_geo_spark.operators.evals import word_error_rate
    p = spark.createDataFrame([(1, "b a", "a b")],
                              ["doc_id", "cand", "ref"])
    assert word_error_rate(p, "cand", "ref").collect()[0] \
        .sum_edits == 2


def test_wer_repeated_words_encode_consistently(spark):
    # duplicated words map to ONE code — 'a a b' vs 'a b b' is 1 sub
    from datafusion_geo_spark.operators.evals import word_error_rate
    p = spark.createDataFrame([(1, "a a b", "a b b")],
                              ["doc_id", "cand", "ref"])
    assert word_error_rate(p, "cand", "ref").collect()[0] \
        .sum_edits == 1


def test_wer_skips_wide_vocab_pairs(spark):
    from datafusion_geo_spark.operators.evals import word_error_rate
    wide = " ".join(f"w{i}" for i in range(90))
    p = spark.createDataFrame(
        [(1, wide, wide), (2, "a b", "a b")],
        ["doc_id", "cand", "ref"])
    r = word_error_rate(p, "cand", "ref").collect()[0]
    assert (r.n_docs, r.n_skipped) == (2, 1)
    assert r.sum_ref_words == 2   # skipped pair excluded from sums


# ------------------------------------------------- chrF

def test_chrf_identity_is_one(spark):
    from datafusion_geo_spark.operators.evals import chrf_corpus
    p = spark.createDataFrame([(1, "abcdefgh", "abcdefgh")],
                              ["doc_id", "cand", "ref"])
    assert chrf_corpus(p, "cand", "ref").collect()[0].chrf == 1.0


def test_chrf_matches_python_reference(spark):
    import collections

    from datafusion_geo_spark.operators.evals import chrf_corpus

    def ref_chrf(c, r, maxn=6, b2=4.0):
        P, R = [], []
        for n in range(1, maxn + 1):
            cg = collections.Counter(c[i:i + n]
                                     for i in range(len(c) - n + 1))
            rg = collections.Counter(r[i:i + n]
                                     for i in range(len(r) - n + 1))
            m = sum(min(cg[g], rg[g]) for g in cg)
            P.append(m / max(len(c) - n + 1, 0))
            R.append(m / max(len(r) - n + 1, 0))
        Pa, Ra = sum(P) / maxn, sum(R) / maxn
        return (1 + b2) * Pa * Ra / (b2 * Pa + Ra)

    # whitespace stripped before gramming: 'ab cdefgh' == 'abcdefgh'
    p = spark.createDataFrame([(1, "ab cdefgh", "abx defgh")],
                              ["doc_id", "cand", "ref"])
    got = chrf_corpus(p, "cand", "ref").collect()[0].chrf
    assert got == pytest.approx(
        round(ref_chrf("abcdefgh", "abxdefgh"), 6), abs=1e-9)


def test_chrf_null_when_text_shorter_than_max_order(spark):
    from datafusion_geo_spark.operators.evals import chrf_corpus
    p = spark.createDataFrame([(1, "abc", "abd")],
                              ["doc_id", "cand", "ref"])
    r = chrf_corpus(p, "cand", "ref").collect()[0]
    assert r.chrf is None and r.tc6 == 0 and r.m1 == 2


# -------------------------------------- fuzzy dedup composition

def test_edit_join_components_chain_merges(spark):
    """Titles chained by distance-2 links collapse into ONE component
    under min-label propagation even when the endpoints are farther
    than 2 apart (single-linkage semantics)."""
    from datafusion_geo_spark.operators.dedup import connected_components
    from datafusion_geo_spark.operators.edit_join import edit_distance_join
    df = spark.createDataFrame(
        [("red plate",), ("red plates",), ("red platess",),
         ("small widget",)], ["t"])
    pairs = edit_distance_join(df, "t", k=2)
    comps = {r.doc_id: r.component
             for r in connected_components(pairs, "a", "b").collect()}
    # chain: red plate -1- red plates -1- red platess (ends are 2 apart)
    assert comps["red plate"] == comps["red plates"] == \
        comps["red platess"] == "red plate"
    assert "small widget" not in comps  # no pair -> not in the graph


# ---------------------------------------- temperature mixing

def test_temperature_mix_tau2_upweights_small_domains(spark):
    from datafusion_geo_spark.operators.sampling import \
        temperature_mix_weights
    rows = ([(i, "w " * 100, "big") for i in range(16)]
            + [(100 + i, "w " * 100, "small") for i in range(1)])
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    w = {r.lang: r for r in temperature_mix_weights(df).collect()}
    # proportional share of small = 1/17; sqrt share = 1/5
    assert w["small"].n_tokens * 16 == w["big"].n_tokens
    assert w["small"].weight == 0.2 and w["big"].weight == 0.8
    # tau=1 reproduces proportional sampling
    w1 = {r.lang: r.weight
          for r in temperature_mix_weights(df, tau=1).collect()}
    assert abs(w1["small"] - 1 / 17) < 1e-6


def test_temperature_mix_rejects_bad_tau(spark):
    import pytest as _pt

    from datafusion_geo_spark.operators.sampling import \
        temperature_mix_weights
    df = spark.createDataFrame([(1, "a", "en")],
                               ["doc_id", "text", "lang"])
    with _pt.raises(ValueError):
        temperature_mix_weights(df, tau=3)


# ------------------------------------- js drift one-pass variant

def test_js_flagged_equals_two_frame_operator(spark):
    """The one-pass flagged variant must produce the IDENTICAL row as
    the two-frame join operator on overlapping subsets."""
    from datafusion_geo_spark.operators.evals import (
        js_unigram_divergence, js_unigram_divergence_flagged)
    rows = [(i, ["alpha beta", "beta gamma delta", "alpha alpha zeta",
                 "gamma beta"][i % 4]) for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    old = df.where(F.col("doc_id") % 3 != 0)
    new = df.where(F.col("doc_id") % 5 != 0)
    a = js_unigram_divergence(old, new).collect()[0]
    b = js_unigram_divergence_flagged(
        df, F.col("doc_id") % 3 != 0, F.col("doc_id") % 5 != 0) \
        .collect()[0]
    assert a.asDict() == b.asDict()
    assert a.js is not None and a.n_vocab_union > 0


def test_streaming_wer_equals_batch(spark):
    """Bounded streaming replay must equal the batch wer_eval row —
    commutative int64 sums make it batch-split insensitive."""
    import __spark_entry__ as entrymod
    sf = "/root/testdata/sf0.001"
    a = entrymod.queries()["wer_eval"](spark, sf).collect()
    b = entrymod.queries()["streaming_wer"](spark, sf).collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]
