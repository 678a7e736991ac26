"""Round-4 pipeline-operator additions: Gopher quality rules,
repetition stats, PII masking, stratified sampling, sequence packing,
and the interval×interval overlap join."""

import pyspark.sql.functions as F
import pytest


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], "doc_id long, text string")


# ---- gopher_quality ---------------------------------------------------

GOOD = ("the quick brown fox jumps over a lazy dog and then runs far "
        "away into the deep green woods to find some food and water "
        "while the sun sets slowly over the hills and the birds sing "
        "their evening songs in the tall trees near the old stone wall "
        "where a small stream flows gently past the mossy rocks")


def test_gopher_rules(spark):
    from datafusion_geo_spark.operators.text import gopher_quality
    rows = [
        GOOD,                                  # 0: passes all rules
        "the cat sat on a mat",                # 1: too few words
        " ".join(["the", "a"] + ["xx"] * 60),  # 2: mean word len < 3
        "the of " + " ".join(["12345"] * 60),  # 3: alpha ratio < 0.8
        " ".join(["apple banana cherry"] * 20),  # 4: no stopwords
    ]
    out = {r["doc_id"]: r for r in
           gopher_quality(_docs(spark, rows)).collect()}
    assert out[0]["keep"] is True
    assert out[1]["keep"] is False and out[1]["n_words"] == 6
    assert out[2]["keep"] is False and out[2]["mean_word_len"] < 3
    assert out[3]["keep"] is False and out[3]["alpha_ratio"] < 0.8
    assert out[4]["keep"] is False and out[4]["distinct_stops"] < 2


# ---- repetition_stats -------------------------------------------------

def test_repetition_ratios_by_hand(spark):
    from datafusion_geo_spark.operators.text import repetition_stats
    # "a b a b a b": words 6 distinct 2 -> dup_word 4/6
    # bigrams: ab ba ab ba ab (5, distinct 2) -> 3/5
    # trigrams: aba bab aba bab (4, distinct 2) -> 2/4
    out = repetition_stats(_docs(spark, ["a b a b a b"])).collect()[0]
    assert out["n_words"] == 6
    assert out["dup_word_ratio"] == pytest.approx(4 / 6, abs=1e-6)
    assert out["dup_bigram_ratio"] == pytest.approx(3 / 5, abs=1e-6)
    assert out["dup_trigram_ratio"] == pytest.approx(2 / 4, abs=1e-6)
    assert out["keep"] is True  # boundary: 0.5 <= 0.5 keeps


def test_repetition_short_docs(spark):
    from datafusion_geo_spark.operators.text import repetition_stats
    rows = ["", "one", "one two", "x y z"]
    out = {r["doc_id"]: r for r in
           repetition_stats(_docs(spark, rows)).collect()}
    for i in range(4):
        assert out[i]["dup_trigram_ratio"] == 0.0
        assert out[i]["keep"] is True
    assert out[2]["dup_bigram_ratio"] == 0.0  # single bigram, distinct
    assert out[3]["dup_word_ratio"] == 0.0


# ---- pii_mask ---------------------------------------------------------

def test_pii_mask(spark):
    from datafusion_geo_spark.operators.text import pii_mask
    rows = [
        "reach me at jane.doe+spam@mail.example.org today",
        "call +1 (555) 010-7788 or +44 20 7946 0958 now",
        "no pii here at all",
        "both a@b.co and +1 5550107788 appear",
    ]
    out = {r["doc_id"]: r for r in pii_mask(_docs(spark, rows)).collect()}
    assert out[0]["masked_text"] == "reach me at <EMAIL> today"
    assert (out[0]["n_emails"], out[0]["n_phones"]) == (1, 0)
    assert out[1]["masked_text"] == "call <PHONE> or <PHONE> now"
    assert (out[1]["n_emails"], out[1]["n_phones"]) == (0, 2)
    assert out[2]["masked_text"] == rows[2]
    assert (out[2]["n_emails"], out[2]["n_phones"]) == (0, 0)
    assert out[3]["masked_text"] == "both <EMAIL> and <PHONE> appear"
    assert (out[3]["n_emails"], out[3]["n_phones"]) == (1, 1)


# ---- stratified_sample ------------------------------------------------

def test_stratified_sample_exact_and_deterministic(spark):
    from datafusion_geo_spark.operators.sampling import stratified_sample
    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(100)] + [(1000, "tiny")],
        "k long, stratum string")
    got = stratified_sample(df, "stratum", "k", 5)
    counts = {r["stratum"]: r["n"] for r in
              got.groupBy("stratum").agg(F.count("*").alias("n")).collect()}
    assert counts == {"s0": 5, "s1": 5, "s2": 5, "tiny": 1}
    a = sorted(r["k"] for r in got.collect())
    b = sorted(r["k"] for r in
               stratified_sample(df, "stratum", "k", 5).collect())
    assert a == b  # pure function of the keys

    with pytest.raises(ValueError, match="n_per_stratum"):
        stratified_sample(df, "stratum", "k", 0)


def test_stratified_sample_plan_is_group_limit(spark):
    """The rank-filter must lower to WindowGroupLimit (partial top-n
    below the exchange), not a full per-stratum sort of everything."""
    from datafusion_geo_spark.operators.sampling import stratified_sample
    df = spark.range(1000).withColumn("stratum", (F.col("id") % 5))
    plan = (stratified_sample(df, "stratum", "id", 3)
            ._jdf.queryExecution().executedPlan().toString())
    assert "WindowGroupLimit" in plan


# ---- pack_sequences ---------------------------------------------------

def test_pack_sequences_layout(spark):
    from datafusion_geo_spark.operators.sampling import pack_sequences
    df = spark.createDataFrame(
        [(i, "g", t) for i, t in enumerate([4, 5, 3, 7, 1, 9])],
        "doc_id long, grp string, toks long")
    out = {r["doc_id"]: r for r in
           pack_sequences(df, "toks", budget=10, key_col="doc_id",
                          bucket_col="grp").collect()}
    # starts: 0,4,9,12,19,20  -> seq floor(start/10), offset start%10
    expect = {0: (0, 0), 1: (0, 4), 2: (0, 9), 3: (1, 2), 4: (1, 9),
              5: (2, 0)}
    for i, (seq, off) in expect.items():
        assert (out[i]["seq_id"], out[i]["seq_offset"]) == (seq, off), i

    with pytest.raises(ValueError, match="budget"):
        pack_sequences(df, "toks", budget=0, bucket_col="grp")


def test_pack_sequences_hash_buckets_partition_corpus(spark):
    from datafusion_geo_spark.operators.sampling import pack_sequences
    df = spark.createDataFrame([(i, 10) for i in range(200)],
                               "doc_id long, toks long")
    out = pack_sequences(df, "toks", budget=100, buckets=8)
    assert out.count() == 200
    assert out.select("bucket").distinct().count() == 8
    # within a bucket, seq_offset strides by 10 mod 100
    bad = out.where((F.col("seq_offset") % 10) != 0).count()
    assert bad == 0


# ---- interval_join ----------------------------------------------------

def _intervals(spark, prefix, rows):
    return spark.createDataFrame(
        rows, f"{prefix}id long, k string, {prefix}lo double, {prefix}hi double")


def test_interval_join_matches_naive_theta(spark):
    import random
    from datafusion_geo_spark.operators.range_join import interval_join
    rnd = random.Random(7)
    lrows = [(i, f"k{rnd.randint(0, 2)}", lo := rnd.uniform(0, 100),
              lo + rnd.uniform(0, 15)) for i in range(40)]
    rrows = [(i, f"k{rnd.randint(0, 2)}", lo := rnd.uniform(0, 100),
              lo + rnd.uniform(0, 15)) for i in range(40)]
    L, R = _intervals(spark, "a", lrows), _intervals(spark, "b", rrows)
    got = sorted((r["aid"], r["bid"]) for r in interval_join(
        L, R, "alo", "ahi", "blo", "bhi", bucket=8.0, keys=["k"]).collect())
    naive = sorted((l[0], r[0]) for l in lrows for r in rrows
                   if l[1] == r[1] and l[2] <= r[3] and r[2] <= l[3])
    assert got == naive and len(got) > 0


def test_interval_join_no_keys_and_guards(spark):
    from datafusion_geo_spark.operators.range_join import interval_join
    L = _intervals(spark, "a", [(1, "x", 0.0, 5.0), (2, "x", 50.0, 40.0)])
    R = _intervals(spark, "b", [(1, "x", 4.0, 6.0), (2, "x", 30.0, 60.0)])
    got = sorted((r["aid"], r["bid"]) for r in interval_join(
        L.drop("k"), R.drop("k"), "alo", "ahi", "blo", "bhi",
        bucket=10.0).collect())
    # inverted left interval (50, 40) never matches
    assert got == [(1, 1)]

    with pytest.raises(ValueError, match="both sides"):
        interval_join(L, R, "alo", "ahi", "blo", "bhi", bucket=10.0)

    from pyspark.errors.exceptions.captured import SparkRuntimeException
    wide = _intervals(spark, "b", [(9, "x", 0.0, 1e9)])
    with pytest.raises(Exception, match="spans more than"):
        interval_join(L.drop("k"), wide.drop("k"), "alo", "ahi",
                      "blo", "bhi", bucket=1.0, max_fanout=100).collect()


def test_interval_join_pair_emitted_once(spark):
    """Wide overlap spanning many shared buckets still yields ONE row."""
    from datafusion_geo_spark.operators.range_join import interval_join
    L = _intervals(spark, "a", [(1, "x", 0.0, 100.0)])
    R = _intervals(spark, "b", [(2, "x", 10.0, 90.0)])
    rows = interval_join(L.drop("k"), R.drop("k"), "alo", "ahi",
                         "blo", "bhi", bucket=5.0).collect()
    assert len(rows) == 1


# ---- decontaminate ----------------------------------------------------

def test_decontaminate_flags_overlap(spark):
    from datafusion_geo_spark.operators.dedup import decontaminate
    corpus = _docs(spark, [
        "alpha beta gamma delta epsilon zeta",      # 0: contains bench trigram x2
        "one two three four five six seven",        # 1: one shared trigram only
        "nothing in common here at all",            # 2: clean
    ])
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon"),   # shares 3 trigrams with 0
         (101, "one two three unrelated words")],   # shares 1 trigram with 1
        "doc_id long, text string")
    got = {(r["corpus_id"], r["bench_id"]): r["n_shared"]
           for r in decontaminate(corpus, bench, min_hits=2).collect()}
    assert got == {(0, 100): 3}  # doc 1 (1 hit) and doc 2 (0 hits) not flagged

    loose = decontaminate(corpus, bench, min_hits=1)
    assert {(r["corpus_id"], r["bench_id"]) for r in loose.collect()} == \
        {(0, 100), (1, 101)}


def test_decontaminate_hot_shingle_cap(spark):
    """A boilerplate trigram present in EVERY corpus doc must not pair
    everything with the benchmark once it crosses the df cap."""
    from datafusion_geo_spark.operators.dedup import decontaminate
    boiler = "terms of service apply"
    corpus = _docs(spark, [f"{boiler} doc number {i} content" for i in range(40)])
    bench = spark.createDataFrame([(999, boiler)], "doc_id long, text string")
    flagged = decontaminate(corpus, bench, min_hits=1, max_shingle_df=10)
    assert flagged.count() == 0  # all boiler trigrams exceed df cap 10
    uncapped = decontaminate(corpus, bench, min_hits=1, max_shingle_df=None)
    assert uncapped.count() == 40


# ---- review fixes: internal names never shadow user columns -----------

def test_internal_names_do_not_clobber_user_columns(spark):
    from datafusion_geo_spark.operators.range_join import interval_join
    from datafusion_geo_spark.operators.sampling import (pack_sequences,
                                                         stratified_sample)
    # stratified_sample with a user '_rn'
    df = spark.createDataFrame([(i, "s", i * 100) for i in range(10)],
                               "k long, stratum string, _rn long")
    out = stratified_sample(df, "stratum", "k", 3)
    assert "_rn" in out.columns
    assert {r["_rn"] for r in out.collect()} <= {i * 100 for i in range(10)}

    # pack_sequences with a user '_pb'
    df2 = spark.createDataFrame([(i, 10, i + 7) for i in range(20)],
                                "doc_id long, toks long, _pb long")
    out2 = pack_sequences(df2, "toks", budget=50, buckets=4)
    assert "_pb" in out2.columns and out2.count() == 20
    assert {r["_pb"] for r in out2.collect()} == {i + 7 for i in range(20)}

    # interval_join with a user '_ib' on one side
    L = spark.createDataFrame([(1, 0.0, 5.0, 42)],
                              "aid long, alo double, ahi double, _ib long")
    R = spark.createDataFrame([(2, 4.0, 6.0)],
                              "bid long, blo double, bhi double")
    j = interval_join(L, R, "alo", "ahi", "blo", "bhi", bucket=10.0)
    rows = j.collect()
    assert len(rows) == 1 and rows[0]["_ib"] == 42


# ---- weighted_sample --------------------------------------------------

def test_weighted_sample_mix(spark):
    from datafusion_geo_spark.operators.sampling import (
        deterministic_sample, weighted_sample)
    df = spark.createDataFrame(
        [(i, ["web", "books", "code"][i % 3]) for i in range(3000)],
        "k long, domain string")
    mixed = weighted_sample(df, "domain", "k",
                            {"web": 0.5, "books": 1.0}, default_fraction=0.0)
    got = {r["domain"]: r["n"] for r in
           mixed.groupBy("domain").agg(F.count("*").alias("n")).collect()}
    assert got.get("books") == 1000          # fraction 1.0 keeps all
    assert "code" not in got                  # default 0.0 drops
    assert 400 < got.get("web", 0) < 600      # ~50% of 1000

    # same key ⇒ same verdict as the single-fraction sampler (alignment)
    web = df.where(F.col("domain") == "web")
    a = {r["k"] for r in mixed.where(F.col("domain") == "web").collect()}
    b = {r["k"] for r in deterministic_sample(web, "k", 0.5).collect()}
    assert a == b

    with pytest.raises(ValueError, match="fraction"):
        weighted_sample(df, "domain", "k", {"web": 1.5})


def test_interval_join_bucket_size_invariance(spark):
    """The result must be independent of the bucket width (dedup +
    replication are internal mechanics, not semantics)."""
    import random
    from datafusion_geo_spark.operators.range_join import interval_join
    rnd = random.Random(21)
    lrows = [(i, "x", lo := rnd.uniform(-50, 50), lo + rnd.uniform(0, 30))
             for i in range(25)]
    rrows = [(i, "x", lo := rnd.uniform(-50, 50), lo + rnd.uniform(0, 30))
             for i in range(25)]
    L = _intervals(spark, "a", lrows).drop("k")
    R = _intervals(spark, "b", rrows).drop("k")
    expect = sorted((l[0], r[0]) for l in lrows for r in rrows
                    if l[2] <= r[3] and r[2] <= l[3])
    for bucket in (0.7, 3.0, 11.0, 64.0):
        got = sorted((r["aid"], r["bid"]) for r in interval_join(
            L, R, "alo", "ahi", "blo", "bhi", bucket=bucket).collect())
        assert got == expect, bucket


def test_word_shingles_n1_null_contract(spark):
    """word_shingles' documented contract — empty array (never NULL) for
    NULL/degenerate text — must hold for n=1 too (review finding: the
    shared ngram_array's n==1 short-circuit returned the raw array)."""
    from datafusion_geo_spark.operators.dedup import word_shingles
    df = spark.createDataFrame([(0, None), (1, ""), (2, "a b")],
                               "doc_id long, text string")
    out = {r["doc_id"]: r["s"] for r in df.select(
        "doc_id", word_shingles(F.col("text"), 1).alias("s")).collect()}
    assert out[0] == []          # NULL text -> empty, not NULL
    assert out[2] == ["a", "b"]


def test_corpus_diff_statuses(spark):
    from datafusion_geo_spark.operators.dedup import corpus_diff
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["doc_id", "text"])
    new = spark.createDataFrame(
        [(2, "b"), (3, "C!"), (4, "d")], ["doc_id", "text"])
    got = {r["doc_id"]: r["status"]
           for r in corpus_diff(old, new).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_alpha_resample_properties(spark):
    """alpha=0.5 up-samples rare domains and down-samples common ones,
    preserves corpus size in expectation, and is a pure function of
    the key hash (rerun-identical)."""
    import hashlib

    import pyspark.sql.functions as F
    from datafusion_geo_spark.operators.sampling import (alpha_factors,
                                                         resample_by_factor)
    rows = ([(i, "big") for i in range(900)]
            + [(1000 + i, "small") for i in range(100)])
    docs = spark.createDataFrame(rows, ["doc_id", "lang"])
    fac = {r["lang"]: r["r_micro"]
           for r in alpha_factors(docs, "lang", 0.5).collect()}
    # integer-exact replay: s_micro = floor(sqrt(n)*1e6+0.5)
    import math
    s_big = math.floor(math.sqrt(900) * 1e6 + 0.5)
    s_small = math.floor(math.sqrt(100) * 1e6 + 0.5)
    S, N = s_big + s_small, 1000
    assert fac["big"] == (s_big * N * 1_000_000) // (S * 900)
    assert fac["small"] == (s_small * N * 1_000_000) // (S * 100)
    assert fac["small"] > 1_000_000 > fac["big"]  # up vs down
    out = resample_by_factor(
        docs, alpha_factors(docs, "lang", 0.5), "lang", "doc_id")
    got = out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    sizes = {r["lang"]: r["n"] for r in got}
    # expectation: 900*fac_big/1e6 = 750, 100*fac_small/1e6 = 250;
    # md5 coins keep it within a loose band
    assert 700 <= sizes["big"] <= 800 and 220 <= sizes["small"] <= 280
    # determinism: exact same rows on rerun
    again = resample_by_factor(
        docs, alpha_factors(docs, "lang", 0.5), "lang", "doc_id")
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, again.collect()))
    # per-row coin replay for a spot-checked key
    h = int(hashlib.md5(b"as1|5").hexdigest()[:8], 16)
    want_copies = fac["big"] // 1_000_000 + (
        1 if h % 1_000_000 < fac["big"] % 1_000_000 else 0)
    n5 = out.where(F.col("doc_id") == 5).count()
    assert n5 == want_copies
