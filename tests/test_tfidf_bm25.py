"""Unit + plan tests for tfidf_top_terms and bm25_search
(operators/text.py). Oracle-level checks live in test_entry_oracle.py;
these pin ranking semantics on a hand corpus and the scale-plan shapes
(bm25: no explode, distributed TakeOrdered top-k)."""

import math

import pyspark.sql.functions as F
import pytest

from datafusion_geo_spark.operators.text import bm25_search, tfidf_top_terms


def _corpus(spark):
    rows = [
        (1, "apple banana apple apple"),          # apple-heavy
        (2, "banana cherry banana"),              # no apple
        (3, "apple cherry date elderberry fig"),  # one of each
        (4, "banana banana banana banana"),       # banana only, longer
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_tfidf_rare_term_outranks_common(spark):
    out = tfidf_top_terms(_corpus(spark), k=2)
    top = {r["doc_id"]: r["term"] for r in out.where(F.col("rank") == 1).collect()}
    # doc 3: singleton terms (df=1) beat 'apple'/'cherry' (df>=2);
    # 'date' wins the tie among df-1 terms alphabetically
    assert top[3] == "date"
    # doc 1: tf=3 apple dominates
    assert top[1] == "apple"


def test_tfidf_score_formula_and_k_cap(spark):
    out = tfidf_top_terms(_corpus(spark), k=2)
    rows = out.collect()
    assert all(r["rank"] <= 2 for r in rows)
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
    assert all(len(v) <= 2 for v in per_doc.values())
    # doc 1 apple: tf=3, df(apple)=2, N=4 -> 3 * (ln(5/3)+1)
    apple = [r for r in rows if r["doc_id"] == 1 and r["term"] == "apple"][0]
    assert apple["tf"] == 3
    assert apple["score"] == pytest.approx(
        round(3 * (math.log(5 / 3) + 1), 6), abs=1e-9)


def test_bm25_ranks_matching_docs_first(spark):
    out = bm25_search(_corpus(spark), ["apple", "cherry"], k=4)
    ranked = [r["doc_id"] for r in out.orderBy("rank").collect()]
    # doc 4 has neither term -> last (score 0); doc 3 has both
    assert ranked[-1] == 4
    assert set(ranked[:3]) == {1, 2, 3}
    three = {r["doc_id"]: r["score"] for r in out.collect()}
    assert three[3] > three[2]          # both terms beat one rarer term
    assert three[4] == 0.0


def test_bm25_length_normalization(spark):
    """Same tf, shorter doc scores higher (b > 0)."""
    df = spark.createDataFrame(
        [(1, "apple pie"), (2, "apple " + "filler " * 20)],
        "doc_id long, text string")
    out = {r["doc_id"]: r["score"]
           for r in bm25_search(df, ["apple"], k=2).collect()}
    assert out[1] > out[2] > 0


def test_bm25_empty_query_rejected(spark):
    with pytest.raises(ValueError):
        bm25_search(_corpus(spark), [])


def test_bm25_plan_no_explode_distributed_topk(spark):
    """tf is computed map-side with array filters (no Generate node);
    the global top-k is TakeOrderedAndProject, never a full sort."""
    df = bm25_search(_corpus(spark), ["apple"], k=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan       # no explode anywhere
    assert "TakeOrderedAndProject" in plan


def test_tfidf_plan_broadcast_df_no_term_shuffle_join(spark):
    """The document-frequency frame must come back via broadcast (a
    shuffle join keyed on term would funnel a stopword's rows into one
    task); the deliberate price is the duplicated explode subtree."""
    plan = (tfidf_top_terms(_corpus(spark), k=2)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Generate explode") == 2
    assert "BroadcastHashJoin [term" in plan or "BroadcastHashJoin [cast" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tfidf_salted_matches_broadcast(spark):
    """The open-vocabulary salted join mode returns identical results to
    the broadcast mode, and the df frame joins through a SHUFFLE join
    (the whole point — a broadcast would be the mode it exists to
    avoid)."""
    broadcast = tfidf_top_terms(_corpus(spark), k=3).collect()
    salted_df = tfidf_top_terms(_corpus(spark), k=3, vocab_join="salted",
                                salt=4)
    salted = salted_df.collect()
    assert sorted(map(tuple, broadcast), key=lambda t: (t[0], t[-1])) == \
           sorted(map(tuple, salted), key=lambda t: (t[0], t[-1]))
    plan = salted_df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    with pytest.raises(ValueError):
        tfidf_top_terms(_corpus(spark), vocab_join="nope")
    with pytest.raises(ValueError):
        tfidf_top_terms(_corpus(spark), vocab_join="salted", salt=0)


def test_unigram_logprob_exact(spark):
    import math
    import pyspark.sql.functions as F
    from datafusion_geo_spark.operators.text import unigram_logprob
    rows = [(1, "a a b"), (2, "b c"), (3, "A")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["lp_micro_sum"], r["min_cnt"])
           for r in unigram_logprob(df).collect()}
    # corpus (lowercased): a:3 b:2 c:1, total 6
    def micro(c): 
        v = math.log(c / 6)
        return int(math.copysign(math.floor(abs(v) * 1e6 + 0.5), v))
    assert got[1] == (3, 2 * micro(3) + micro(2), 2)
    assert got[2] == (2, micro(2) + micro(1), 1)
    assert got[3] == (1, micro(3), 3)


def test_bigram_ppl_detects_word_order_corruption(spark):
    """The motivating property of the bigram eval: scrambling word
    order leaves unigram ppl untouched (same token multiset) but must
    raise bigram ppl (held-out pairs fall out of the trained bigram
    table into the 0.25-weighted unigram floor)."""
    import hashlib

    from datafusion_geo_spark.operators.text import (
        bigram_heldout_perplexity, heldout_perplexity)

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 10000

    train_ids = [i for i in range(500) if bucket(i) < 9000][:40]
    test_ids = [i for i in range(500) if bucket(i) >= 9000][:4]
    pat = "alpha beta gamma delta " * 6
    scram = "delta alpha gamma beta " * 6  # same multiset, new pairs
    rows = [(i, pat) for i in train_ids]
    ordered = spark.createDataFrame(
        rows + [(i, pat) for i in test_ids], "doc_id long, text string")
    shuffled = spark.createDataFrame(
        rows + [(i, scram) for i in test_ids], "doc_id long, text string")
    bg_o = bigram_heldout_perplexity(ordered).collect()[0]
    bg_s = bigram_heldout_perplexity(shuffled).collect()[0]
    assert bg_s["ppl_micro"] > bg_o["ppl_micro"]
    assert bg_s["n_unseen_pair"] > bg_o["n_unseen_pair"]
    uni_o = heldout_perplexity(ordered).collect()[0]
    uni_s = heldout_perplexity(shuffled).collect()[0]
    assert uni_o["ppl_micro"] == uni_s["ppl_micro"]  # unigram is blind


def test_kn_bigram_ppl_matches_python_reference(spark):
    """kn_bigram_perplexity against a pure-Python interpolated-KN
    replay (same md5 split, same D = 0.75, same continuation add-1,
    same micro-int logprob rounding) — pins the MATH, while the
    entry-oracle test pins the cross-engine replay."""
    import hashlib
    import math
    from collections import Counter

    from datafusion_geo_spark.operators.text import kn_bigram_perplexity

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 10000

    texts = ["the cat sat on the mat", "the dog sat on the log",
             "a cat and a dog", "the mat and the log xyzzy",
             "on and on the cat ran"]
    rows = [(i, texts[i % len(texts)]) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = kn_bigram_perplexity(df).collect()[0]

    train = [t.lower().split() for i, t in rows if bucket(i) < 9000]
    test = [(i, t.lower().split()) for i, t in rows if bucket(i) >= 9000]
    c1 = Counter(w for ws in train for w in ws)
    c12 = Counter((a, b) for ws in train for a, b in zip(ws, ws[1:]))
    nf = Counter(a for a, _ in c12)
    npr = Counter(b for _, b in c12)
    B, V = len(c12), len(c1)
    lp_sum = 0
    n_pairs = n_unseen_ctx = n_unseen_pair = 0
    docs = set()
    for i, ws in test:
        for a, b in zip(ws, ws[1:]):
            docs.add(i)
            n_pairs += 1
            pc = float(npr.get(b, 0) + 1) / float(B + V + 1)
            if a in nf:
                p = (max(float(c12.get((a, b), 0)) - 0.75, 0.0)
                     / float(c1[a])
                     + 0.75 * float(nf[a]) / float(c1[a]) * pc)
            else:
                n_unseen_ctx += 1
                p = pc
            if (a, b) not in c12:
                n_unseen_pair += 1
            lp = math.log(p)
            lp_sum += int(math.copysign(
                math.floor(abs(lp) * 1e6 + 0.5), lp))
    assert got["n_test_docs"] == len(docs)
    assert got["n_test_bigrams"] == n_pairs
    assert got["n_unseen_ctx"] == n_unseen_ctx
    assert got["n_unseen_pair"] == n_unseen_pair
    assert got["lp_micro_sum"] == lp_sum
    # the scrambling property carries to KN: every probability is
    # positive (add-1 continuation), so ppl is finite
    assert got["ppl_micro"] > 1_000_000  # ppl > 1 always
