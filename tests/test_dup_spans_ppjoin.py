"""Unit tests for dup_span_stats (word-level exact-substring dedup
audit) and jaccard_prefix_pairs (PPJoin prefix-filtered exact Jaccard
join) — operators/dedup.py. Oracle-level checks live in
test_entry_oracle.py (dup_spans / jaccard_prefix)."""

import itertools

import pyspark.sql.functions as F

from datafusion_geo_spark.operators.dedup import (dup_span_stats,
                                                  jaccard_prefix_pairs)


def _spans(spark, rows, **kw):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {r["doc_id"]: r for r in dup_span_stats(df, **kw).collect()}


def _w(n, tag=""):
    return " ".join(f"{tag}w{i}" for i in range(n))


def test_no_duplication_all_unique(spark):
    out = _spans(spark, [(1, _w(12, "a")), (2, _w(12, "b"))], n=4)
    for r in out.values():
        assert r["n_words"] == 12 and r["n_ngrams"] == 9
        assert r["n_dup_ngrams"] == 0 and r["n_spans"] == 0
        assert r["dup_words"] == 0 and r["keep"]


def test_exact_copy_fully_covered(spark):
    t = _w(10)
    out = _spans(spark, [(1, t), (2, t)], n=4)
    for r in out.values():
        # every 4-gram occurs twice corpus-wide -> one span covering all
        assert r["n_dup_ngrams"] == 7 and r["n_spans"] == 1
        assert r["dup_words"] == 10 and not r["keep"]


def test_two_disjoint_spans_merge_correctly(spark):
    # doc 1 shares its first 4 and last 4 words with docs 2/3; the
    # middle 5 words are unique -> two islands of 4 covered words each
    t1 = "p0 p1 p2 p3 m0 m1 m2 m3 m4 s0 s1 s2 s3"
    out = _spans(spark, [(1, t1), (2, "p0 p1 p2 p3"), (3, "s0 s1 s2 s3")],
                 n=4)
    r = out[1]
    assert r["n_dup_ngrams"] == 2 and r["n_spans"] == 2
    assert r["dup_words"] == 8 and not r["keep"]  # 8*2 > 13 -> filtered
    assert not out[2]["keep"] and not out[3]["keep"]


def test_overlapping_windows_counted_once(spark):
    # doc 1 = 5-word overlap with doc 2 at 4-gram n: positions 0 and 1
    # duplicate, spans merge to ONE island of 5 words, not 8
    out = _spans(spark, [(1, "a b c d e x1 y1 z1"), (2, "a b c d e")], n=4)
    r = out[1]
    assert r["n_dup_ngrams"] == 2 and r["n_spans"] == 1
    assert r["dup_words"] == 5


def test_within_doc_repeat_counts(spark):
    # self-repetition: the same 4-gram twice inside one doc
    out = _spans(spark, [(1, "a b c d q1 q2 a b c d")], n=4)
    r = out[1]
    assert r["n_dup_ngrams"] == 2 and r["n_spans"] == 2
    assert r["dup_words"] == 8 and not r["keep"]


def _jacc_brute(docs, n=3, thr=0.5):
    def sh(t):
        w = t.split()
        return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}
    sets = {d: sh(t) for d, t in docs}
    out = {}
    for (a, sa), (b, sb) in itertools.combinations(sets.items(), 2):
        if not sa or not sb:
            continue
        inter = len(sa & sb)
        if inter / len(sa | sb) >= thr:
            out[(min(a, b), max(a, b))] = inter
    return out


def test_ppjoin_matches_brute_force(spark):
    docs = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f x y"),      # high overlap with 1
        (3, "p q r s t u v w"),      # disjoint
        (4, "p q r s t u v w"),      # exact copy of 3
        (5, "a b c p q r s t"),      # partial both
        (6, "z1 z2"),                # too short for 3-grams
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["inter"]
           for r in jaccard_prefix_pairs(df).collect()}
    assert got == _jacc_brute(docs)


def test_ppjoin_prefix_is_lossless_at_threshold(spark):
    # J exactly at the 1/2 threshold must be RETAINED (>=, and the
    # prefix bound is derived for >=): sets {8 shingles} with inter 6,
    # union 12 -> J = 0.5
    t1 = "s0 s1 s2 s3 s4 s5 s6 s7 s8 s9"   # 8 shingles
    t2 = "s2 s3 s4 s5 s6 s7 s8 s9 u0 u1"   # shares 6 of its 8
    docs = [(1, t1), (2, t2)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): (r["inter"], r["union_sz"])
           for r in jaccard_prefix_pairs(df).collect()}
    brute = _jacc_brute(docs)
    assert set(got) == set(brute)


def test_ppjoin_hot_shingle_cap_drops_stopword_keys(spark):
    # with max_token_df=1: every shared shingle is "hot", so no prefix
    # keys survive and no pairs are produced — the documented stop-
    # shingle guard semantics (candidates must arise from rare keys)
    t = "a b c d e f"
    df = spark.createDataFrame([(1, t), (2, t)], "doc_id long, text string")
    assert jaccard_prefix_pairs(df, max_token_df=1).count() == 0
    assert jaccard_prefix_pairs(df, max_token_df=None).count() == 1


# ---------------------------------------------------------------------------
# property: dup_span_stats vs a brute-force reference
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st
import pytest


def _brute_spans(docs, n):
    """Reference implementation: global n-gram counts, per-doc merged
    covered intervals."""
    grams = {}
    per_doc = {}
    for d, words in docs.items():
        gs = [" ".join(words[i:i + n]) for i in range(len(words) - n + 1)]
        per_doc[d] = gs
        for g in gs:
            grams[g] = grams.get(g, 0) + 1
    out = {}
    for d, words in docs.items():
        dup_pos = [i for i, g in enumerate(per_doc[d]) if grams[g] > 1]
        spans = []
        for p in dup_pos:
            if spans and p <= spans[-1][1]:
                spans[-1][1] = max(spans[-1][1], p + n - 1)
            else:
                spans.append([p, p + n - 1])
        covered = sum(e - s + 1 for s, e in spans)
        out[d] = (len(dup_pos), len(spans), covered)
    return out


@pytest.mark.slow
@given(st.lists(
    st.lists(st.sampled_from("abcdefg"), min_size=1, max_size=18),
    min_size=1, max_size=8))
@settings(max_examples=20, deadline=None)
def test_dup_spans_matches_brute_force(spark, doc_words):
    n = 3
    docs = {i: w for i, w in enumerate(doc_words)}
    rows = [(i, " ".join(w)) for i, w in docs.items()]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_dup_ngrams"], r["n_spans"], r["dup_words"])
           for r in dup_span_stats(df, n=n).collect()}
    want = _brute_spans(docs, n)
    assert got == want


@pytest.mark.slow
def test_ppjoin_r11_filters_lossless_fuzz(spark):
    """r11 added a size filter and the PPJoin positional filter to
    candidate generation plus array_intersect verification — all three
    must be output-preserving. Fuzz random corpora (shared vocabulary,
    duplicated and near-duplicated docs, varying lengths incl. sub-
    3-gram) against the brute-force reference at several thresholds."""
    import random
    rng = random.Random(411)
    vocab = [f"w{i}" for i in range(30)]
    for trial in range(4):
        docs = []
        for d in range(40):
            ln = rng.choice([2, 5, 8, 12, 20])
            docs.append((d, " ".join(rng.choice(vocab)
                                     for _ in range(ln))))
        # exact + near copies so true pairs exist
        docs.append((100, docs[0][1]))
        docs.append((101, docs[1][1] + " extra tail words here"))
        df = spark.createDataFrame(docs, "doc_id long, text string")
        for num, den in ((1, 2), (2, 3), (1, 3)):
            got = {(r["id_a"], r["id_b"]): r["inter"]
                   for r in jaccard_prefix_pairs(
                       df, threshold_num=num, threshold_den=den,
                       max_token_df=None).collect()}
            assert got == _jacc_brute(docs, thr=num / den), \
                (trial, num, den)
