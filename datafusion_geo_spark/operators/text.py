"""Text-analysis operators for LLM training-data pipelines.

Beyond the reference's surface (BASELINE.json north star): language-ID
heuristic, quality scoring, token counting, document fingerprinting.

Design: every operator is pure Spark SQL built-ins (split/filter/
aggregate higher-order functions) — no Python UDFs, so the whole pipeline
stays inside WholeStageCodegen and scales linearly with executors. Each
formula is deliberately expressible in ANSI SQL so the DuckDB oracle
reproduces it exactly (see __spark_entry__.oracle_sql).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .util import idiv, micro, round6_binary

# Shared constants (mirrored into oracle SQL) ---------------------------

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

# marker words per language for the n-gram/stopword language-ID heuristic;
# tie-break = first max in this declared order
LANG_MARKERS = (
    ("en", ("the", "and", "of", "is", "a")),
    ("es", ("el", "la", "los", "de", "que")),
    ("de", ("der", "die", "und", "das", "ein")),
    ("fr", ("le", "les", "et", "une", "est")),
    ("zh", ("shi", "de", "le", "bu", "wo")),
)

ROLL_B = 31
ROLL_P = 1_000_000_007

# BPE-ish pre-tokenizer regex (GPT-2-style, ASCII simplification):
# contractions | space?letters | space?digits | space?punct-run | spaces.
# Kept to syntax Java regex (Spark) and RE2 (DuckDB) evaluate identically.
BPE_REGEX = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+"


def words_col(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def ngram_array(w: Column, n: int) -> Column:
    """Word n-grams of a word array as space-joined strings; empty array
    when there are fewer than n words. Built by zip_with-folding n
    SHIFTED slices of the array — measured ~5-14× faster inside codegen
    than per-index element_at/slice+concat_ws (ANSI bounds machinery per
    lookup; see dedup.word_shingles' 0.55 s/516k-shingle figure and the
    10.0 s → 1.3 s repetition_stats fix). ONE definition, shared by the
    shingle and repetition families.

    n=1 deliberately takes the same guarded path: NULL/degenerate input
    yields an EMPTY array (the documented word_shingles contract), not
    the raw (possibly NULL) word array."""
    m = F.size(w) - F.lit(n - 1)
    acc = F.slice(w, 1, m)
    for j in range(1, n):
        acc = F.zip_with(acc, F.slice(w, j + 1, m),
                         lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(F.size(w) >= n, acc) \
            .otherwise(F.array().cast("array<string>"))


def bpe_token_count(text: Column) -> Column:
    """Token count under the BPE-ish pre-tokenizer — the whitespace-free
    estimate a training pipeline budgets with."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_REGEX), F.lit(0)))


def _ratio6(num: Column, den: Column) -> Column:
    """round-half-up(num/den · 1e6) / 1e6 computed in exact int64
    arithmetic. ``F.round`` on the double quotient is representation-
    dependent at half boundaries (Spark HALF_UP on the shortest decimal vs
    DuckDB on the binary value disagreed for 1/500 docs in round 1); the
    scaled-integer form is deterministic and the oracle mirrors it with
    DuckDB's ``//``."""
    q6 = idiv(F.lit(2_000_000) * num.cast("long") + den.cast("long"),
              F.lit(2) * den.cast("long"))
    return q6 / F.lit(1_000_000.0)


def text_stats(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", keep_cols: tuple = ()) -> DataFrame:
    """Token count + quality features + composite quality score.

    All ratios (and the composite score) are rounded to 6 decimals via
    exact scaled-integer half-up rounding (``_ratio6``) so every engine
    computing the same integer counts produces bit-identical doubles."""
    w = words_col(F.col(text_col))
    n_tokens = F.size(w).cast("long")
    n_chars_nospace = F.length(F.regexp_replace(F.col(text_col), r"\s+", ""))
    stops = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS))).cast("long")
    distinct_tokens = F.size(F.array_distinct(w)).cast("long")
    stop_ratio = _ratio6(stops, n_tokens)
    distinct_ratio = _ratio6(distinct_tokens, n_tokens)
    avg_token_len = _ratio6(n_chars_nospace, n_tokens)
    # quality = 0.4·min(1, n/100) + 0.3·(1 − stops/n) + 0.3·distinct/n,
    # as one exact rational P/n in millionths:
    #   P = 4000·min(100,n)·n + 300000·(n − stops + distinct)
    p = (F.lit(4000) * F.least(F.lit(100).cast("long"), n_tokens) * n_tokens
         + F.lit(300_000) * (n_tokens - stops + distinct_tokens))
    quality = idiv(F.lit(2) * p + n_tokens,
                   F.lit(2) * n_tokens) / F.lit(1_000_000.0)
    return df.select(
        id_col, *keep_cols,
        n_tokens.cast("int").alias("n_tokens"),
        bpe_token_count(F.col(text_col)).alias("n_bpe_tokens"),
        avg_token_len.alias("avg_token_len"),
        stop_ratio.alias("stop_ratio"),
        distinct_ratio.alias("distinct_ratio"),
        quality.alias("quality_score"),
    )


def _lang_scores(w: Column) -> dict:
    """Per-language marker-hit counts of a word array — the scoring
    core shared by :func:`lang_id` and :func:`lang_pred_col`."""
    def marker_score(markers):
        # factory so the HOF lambda has exactly one parameter (Spark
        # introspects the signature) and binds ``markers`` per call
        return F.size(F.filter(w, lambda x: x.isin(*markers)))

    return {lang: marker_score(markers) for lang, markers in LANG_MARKERS}


def _lang_pred(scores: dict) -> Column:
    """First language (declared order) reaching the max score."""
    mx = F.greatest(*scores.values())
    pred = F.when(scores[LANG_MARKERS[0][0]] == mx, LANG_MARKERS[0][0])
    for lang, _ in LANG_MARKERS[1:]:
        pred = pred.when(scores[lang] == mx, lang)
    return pred


def lang_pred_col(text: Column) -> Column:
    """The lang_id prediction as a plain COLUMN expression — for plans
    that classify more than one text variant in a single map pass
    (e.g. the krippendorff_alpha rater grid) instead of running
    :func:`lang_id` per variant and self-joining on the id."""
    return _lang_pred(_lang_scores(words_col(text)))


def lang_id(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id", keep_cols: tuple = ()) -> DataFrame:
    """Marker-word language-ID heuristic: score per language = count of
    marker-word occurrences; prediction = first language (declared order)
    reaching the max score. ``keep_cols`` ride through to the output —
    a downstream eval that needs them (e.g. the confusion matrix's
    truth label) then runs on THIS one map-side pass instead of
    re-scanning and self-joining on the id."""
    scores = _lang_scores(words_col(F.col(text_col)))
    pred = _lang_pred(scores)
    return df.select(
        id_col, *keep_cols,
        *[scores[lang].alias(f"score_{lang}") for lang, _ in LANG_MARKERS],
        pred.alias("lang_pred"),
    )


def fingerprint(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Document fingerprints:
    * fp_roll  — polynomial rolling hash over characters
                 (acc*31 + ascii) mod 1e9+7, computed with the
                 ``aggregate`` higher-order function (JVM-side),
    * fp_md5   — first 8 hex chars of md5 as bigint,
    * fp_minword — min word-hash (1-shingle minhash component).
    """
    chars = F.split(F.col(text_col), "")
    roll = F.aggregate(
        chars, F.lit(0).cast("long"),
        lambda acc, c: (acc * ROLL_B + F.ascii(c)) % ROLL_P)
    md5_64 = F.conv(F.substring(F.md5(F.col(text_col)), 1, 8), 16, 10).cast("long")
    w = words_col(F.col(text_col))
    minword = F.array_min(F.transform(
        w, lambda x: F.conv(F.substring(F.md5(x), 1, 8), 16, 10).cast("long")))
    return df.select(
        id_col,
        roll.alias("fp_roll"),
        md5_64.alias("fp_md5"),
        minword.alias("fp_minword"),
    )

# Gopher-style quality rules (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", §A1.1 — public
# paper). Thresholds are the published ones where the fixture can
# exercise them; all math is the exact scaled-integer arithmetic used
# throughout this module so the DuckDB oracle is bit-identical.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MIN_ALPHA_RATIO = 0.8     # frac of words containing >=1 letter
GOPHER_MIN_DISTINCT_STOPS = 2    # distinct stopword hits required


def gopher_metrics(text: Column) -> dict:
    """The Gopher rule columns as a dict — composable into batch
    (gopher_quality) or streaming (streaming/curate.py) plans; all
    stateless map-side expressions."""
    w = words_col(text)
    n_words = F.size(w).cast("long")
    n_chars_nospace = F.length(
        F.regexp_replace(text, r"\s+", "")).cast("long")
    mean_len = _ratio6(n_chars_nospace, n_words)
    alpha_words = F.size(
        F.filter(w, lambda x: x.rlike("[A-Za-z]"))).cast("long")
    alpha_ratio = _ratio6(alpha_words, n_words)
    distinct_stops = F.size(F.array_distinct(
        F.filter(w, lambda x: x.isin(*STOPWORDS)))).cast("long")
    keep = ((n_words >= GOPHER_MIN_WORDS)
            & (n_words <= GOPHER_MAX_WORDS)
            & (mean_len >= GOPHER_MIN_MEAN_WORD_LEN)
            & (mean_len <= GOPHER_MAX_MEAN_WORD_LEN)
            & (alpha_ratio >= GOPHER_MIN_ALPHA_RATIO)
            & (distinct_stops >= GOPHER_MIN_DISTINCT_STOPS))
    return {"n_words": n_words, "mean_word_len": mean_len,
            "alpha_ratio": alpha_ratio, "distinct_stops": distinct_stops,
            "keep": keep}


def gopher_quality(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", keep_cols: tuple = ()) -> DataFrame:
    """Gopher-rule document filter: word-count bounds, mean word length
    band, alphabetic-word ratio, and distinct-stopword presence, plus
    the combined ``keep`` verdict. Pure built-ins (one map-side project,
    no shuffle): at 100 TB this is a free rider on the scan."""
    m = gopher_metrics(F.col(text_col))
    return df.select(
        id_col, *keep_cols,
        m["n_words"].cast("int").alias("n_words"),
        m["mean_word_len"].alias("mean_word_len"),
        m["alpha_ratio"].alias("alpha_ratio"),
        m["distinct_stops"].cast("int").alias("distinct_stops"),
        m["keep"].alias("keep"),
    )


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     max_dup_trigram_ratio: float = 0.5) -> DataFrame:
    """Within-document repetition metrics (the Gopher/MassiveText
    repetition-removal family): fraction of duplicate words, bigrams and
    trigrams (1 − distinct/total, exact scaled-integer rounding), plus a
    ``keep`` verdict on the trigram ratio. Map-side only — no shuffle."""
    w = words_col(F.col(text_col))

    def dup_ratio(grams: Column) -> Column:
        n = F.size(grams).cast("long")
        dst = F.size(F.array_distinct(grams)).cast("long")
        return F.when(n > 0, _ratio6(n - dst, n)).otherwise(F.lit(0.0))

    dup_w = dup_ratio(w)
    dup_2 = dup_ratio(ngram_array(w, 2))
    dup_3 = dup_ratio(ngram_array(w, 3))
    return df.select(
        id_col,
        F.size(w).alias("n_words"),
        dup_w.alias("dup_word_ratio"),
        dup_2.alias("dup_bigram_ratio"),
        dup_3.alias("dup_trigram_ratio"),
        (dup_3 <= F.lit(max_dup_trigram_ratio)).alias("keep"),
    )


def tfidf_top_terms(df: DataFrame, k: int = 5, text_col: str = "text",
                    id_col: str = "doc_id",
                    vocab_join: str = "broadcast",
                    salt: int = 16) -> DataFrame:
    """Per-document TF-IDF keyword extraction: the ``k`` highest-scoring
    terms per doc, ``score = tf · (ln((N+1)/(df+1)) + 1)`` (smoothed idf,
    the scikit-learn convention) rounded to 6 dp, ties by term asc.

    Plan: explode of the term array, then two map-side-combined
    aggregations — tf on (doc, term) and document frequency on term —
    joined back per ``vocab_join``; the corpus size N is a one-row
    aggregate broadcast via crossJoin (lazy, no driver action). The
    per-doc top-k window partitions on doc_id. Everything is built-ins
    inside WholeStageCodegen.

    ``vocab_join`` picks the df-frame join-back (the scale decision):
      - "broadcast" (default): for vocabularies that fit the broadcast
        limit (up to tens of millions of terms). Skew-free by
        construction, no second shuffle.
      - "salted": the OPEN-VOCABULARY path — a billions-of-terms web
        corpus cannot broadcast, and a plain shuffle join keyed on term
        would funnel a stopword's (doc, term) rows into one task. The
        df frame replicates ``salt`` ways and the tf side joins on
        (term, doc-hash salt), splitting every hot term across ``salt``
        tasks."""
    w = words_col(F.lower(F.col(text_col)))
    terms = (df.select(F.col(id_col), F.explode(w).alias("term")))
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    # document frequency: groupBy is map-side combined — a stopword
    # compresses to one partial row per map task, so the AGG itself has
    # no hot-key problem; only the join-back does (see vocab_join).
    # Price of either mode: Catalyst duplicates the explode subtree
    # (two corpus scans); persist tf before calling if the scan
    # dominates.
    dft = tf.groupBy("term").agg(F.count("*").alias("dft"))
    if vocab_join == "broadcast":
        joined = tf.join(F.broadcast(dft), "term")
    elif vocab_join == "salted":
        if salt < 1:
            raise ValueError(f"salt must be >= 1, got {salt}")
        tf_s = tf.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt)))
        dft_s = dft.withColumn(
            "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
        joined = tf_s.join(dft_s, ["term", "_salt"]).drop("_salt")
    else:
        raise ValueError(
            f"vocab_join must be broadcast|salted, got {vocab_join!r}")
    n = F.broadcast(df.agg(F.count("*").alias("n_docs")))
    scored = (joined.crossJoin(n)
              .select(F.col(id_col), F.col("term"),
                      F.col("tf").cast("int").alias("tf"),
                      round6_binary(F.col("tf")
                              * (F.log((F.col("n_docs") + F.lit(1.0))
                                       / (F.col("dft") + F.lit(1.0)))
                                 + F.lit(1.0))).alias("score")))
    from pyspark.sql import Window
    win = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(win))
            .where(F.col("rank") <= k)
            .select(id_col, "term", "tf", "score",
                    F.col("rank").cast("int").alias("rank")))


BM25_K1 = 1.2
BM25_B = 0.75


def bm25_search(df: DataFrame, query_terms: list, k: int = 10,
                k1: float = BM25_K1, b: float = BM25_B,
                text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """BM25 ranking of the corpus against a fixed bag-of-words query
    (Robertson/Spärck Jones; the Okapi formula with standard k1/b).

    Because the query is a FIXED small term set, per-term tf is computed
    map-side with an array filter — no explode, no (doc, term) shuffle.
    The only wide operation is a single one-row global aggregate
    (corpus size + total token count + per-term document frequencies)
    broadcast back via crossJoin. At 100 TB this is one scan + one
    scalar sync: the cheapest possible search plan short of an index.

    Determinism across engines: per-term contributions are summed in the
    DECLARED term order with left-associative ``+`` (both engines fold
    identically), the length ratio is computed as dl·N/Σdl (one division)
    and only the final score is rounded — so the oracle reproduces the
    exact double. Ties rank by doc_id."""
    if not query_terms:
        raise ValueError("bm25_search needs at least one query term")
    w = words_col(F.lower(F.col(text_col)))

    def tfc(term):
        # factory: one-arg lambda for HOF introspection, binds term
        return F.size(F.filter(w, lambda x: x == F.lit(term)))

    base = df.select(
        F.col(id_col), F.size(w).cast("long").alias("dl"),
        *[tfc(t).cast("long").alias(f"tf_{i}")
          for i, t in enumerate(query_terms)])
    glob = F.broadcast(base.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
          for i in range(len(query_terms))]))
    g = base.crossJoin(glob)
    score = None
    for i in range(len(query_terms)):
        tf_i = F.col(f"tf_{i}").cast("double")
        df_i = F.col(f"df_{i}").cast("double")
        idf = F.log(F.lit(1.0) + (F.col("n_docs") - df_i + F.lit(0.5))
                    / (df_i + F.lit(0.5)))
        denom = tf_i + F.lit(k1) * (F.lit(1.0 - b)
                                    + F.lit(b) * F.col("dl") * F.col("n_docs")
                                    / F.col("sum_dl"))
        contrib = idf * (tf_i * F.lit(k1 + 1.0)) / denom
        score = contrib if score is None else score + contrib
    scored = g.select(F.col(id_col), round6_binary(score).alias("score"))
    # distributed top-k (TakeOrderedAndProject: per-partition heaps, no
    # global sort/single-partition window); rank assigned over the k
    # survivors only, where a one-partition window is free
    top = scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)
    from pyspark.sql import Window
    win = Window.orderBy(F.desc("score"), F.asc(id_col))
    return (top.withColumn("rank", F.row_number().over(win).cast("int"))
            .select(id_col, "score", "rank"))


# PII masking: pattern syntax restricted to what Java regex (Spark) and
# RE2 (DuckDB) evaluate identically — char classes, bounded repeats, no
# backrefs/lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+[0-9][0-9()\- ]{6,}[0-9]"


def pii_mask(df: DataFrame, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """Mask emails and international-format phone numbers with typed
    placeholders; report per-doc match counts (audit columns a redaction
    pipeline logs). Map-side regexp built-ins — no shuffle, no UDF.
    Counts are computed BEFORE masking; emails are masked first so a
    digit-bearing local-part is not half-eaten by the phone pass."""
    t = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0)))
    n_phones = F.size(F.regexp_extract_all(t, F.lit(PHONE_RE), F.lit(0)))
    masked = F.regexp_replace(
        F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>")
    return df.select(
        id_col,
        masked.alias("masked_text"),
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
    )


# URL canonicalization (web-corpus dedup) -------------------------------

# query params stripped before dedup: the standard tracking set
TRACKING_PARAM_RE = "^(utm_[^=]*|gclid|fbclid|msclkid|ref)="

# RFC-3986-shaped single-pass URL split: scheme://authority path ?query
# (fragment and everything after it ignored). regexp_extract of a short
# anchored pattern is ~10x cheaper per part than parse_url's full
# java.net.URI construction (measured 32s -> 3s on the url_dedup fixture
# at sf0.1), and malformed input simply fails the match -> '' -> NULL.
_URL_RE = (r"^\s*[A-Za-z][A-Za-z0-9+.\-]*://"
           r"(?:[^/?#@]*@)?([^/?#:]+)(:\d+)?([^?#]*)(?:\?([^#]*))?")


def canonicalize_url(url: Column) -> Column:
    """Canonical form of a URL for web-corpus deduplication — pure
    Spark built-ins (one anchored regex split + higher-order array
    functions), so the whole expression stays in WholeStageCodegen.

    Rules (each a deliberate, documented dedup convention):
      - scheme-insensitive: emitted as ``https://``
      - userinfo dropped; host lowercased, leading ``www.`` stripped
      - port kept only when non-default (not 80/443)
      - path case preserved; trailing ``/`` stripped ('' / '/' -> '')
      - fragment dropped; tracking params (utm_*, gclid, fbclid,
        msclkid, ref) removed; surviving params SORTED and rejoined —
        param order never distinguishes two URLs
    Malformed input (no scheme://host) yields NULL rather than a fake
    key, so a downstream groupBy does not glue all junk rows into one
    group.
    """
    host = F.regexp_replace(F.lower(F.regexp_extract(url, _URL_RE, 1)),
                            "^www\\.", "")
    port = F.regexp_extract(url, _URL_RE, 2)
    port_part = F.when(port.isin("", ":80", ":443"), F.lit("")) \
                 .otherwise(port)
    path = F.regexp_replace(F.regexp_extract(url, _URL_RE, 3), "/+$", "")
    q = F.regexp_extract(url, _URL_RE, 4)
    params = F.array_sort(F.filter(
        F.split(q, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE)))
    qs = F.array_join(params, "&")
    canon = F.concat(F.lit("https://"), host, port_part, path,
                     F.when(qs == "", F.lit("")).otherwise(
                         F.concat(F.lit("?"), qs)))
    return F.when(host == "", F.lit(None)).otherwise(canon)


def url_dedup(df: DataFrame, url_col: str = "url",
              id_col: str = "doc_id") -> DataFrame:
    """Group a corpus by canonical URL: one row per canonical URL with
    the kept (min-id) doc and the duplicate count — the usual first
    pass of a web-scrape pipeline, upstream of content-level dedup.
    One shuffle on the canonical-url key; NULL (malformed) URLs are
    dropped, not grouped."""
    canon = canonicalize_url(F.col(url_col)).alias("canonical_url")
    return (df.select(canon, F.col(id_col))
            .where(F.col("canonical_url").isNotNull())
            .groupBy("canonical_url")
            .agg(F.min(id_col).alias("kept_doc"),
                 F.count("*").alias("n_dups")))


# Self-trained unigram LM scoring (perplexity proxy) --------------------

def unigram_logprob(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Corpus-self-trained unigram language-model score per document —
    the cheap perplexity proxy for quality filtering (a doc whose
    tokens are corpus-rare scores low). Two shuffles total: token
    counts (word key) and the per-doc aggregate (doc key); the
    one-row token total broadcasts via crossJoin (same shape as
    TF-IDF's global aggregate).

    Per-token log-probability ln(cnt_w / total) is rounded to MICRO
    units as an integer BEFORE the per-doc sum, making the result
    fold-order independent (a double sum over shuffled rows is not) —
    so the score is engine-exact. Returns (id_col, n_tokens,
    lp_micro_sum, min_cnt); mean logprob = lp_micro_sum / (1e6 *
    n_tokens), and min_cnt is the rarest-token corpus count (an OOV
    signal)."""
    toks = df.select(F.col(id_col),
                     F.explode(words_col(F.lower(F.col(text_col))))
                     .alias("w"))
    vocab = toks.groupBy("w").agg(F.count("*").alias("cnt"))
    total = toks.agg(F.count("*").alias("total"))
    lp = F.log(F.col("cnt").cast("double") / F.col("total").cast("double"))
    scored = (toks.join(vocab, "w").crossJoin(F.broadcast(total))
              .withColumn("_lp", micro(lp)))
    return (scored.groupBy(id_col)
            .agg(F.count("*").alias("n_tokens"),
                 F.sum("_lp").alias("lp_micro_sum"),
                 F.min("cnt").alias("min_cnt")))


def encode_with_vocab(df: DataFrame, vocab_size: int = 256,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """The token→id encoding step of a training pipeline: a vocabulary
    of the ``vocab_size`` most frequent whitespace tokens (count desc,
    term asc — deterministic), ids 1..V in that order, every other
    token the OOV id 0; documents come back as int arrays in token
    order plus an OOV count.

    Scale shape: one token-count aggregate builds the vocab (top-V via
    one ORDER BY LIMIT on the aggregated counts — count rows, not
    corpus rows), broadcast-joined onto the exploded (doc, pos, token)
    stream; array reassembly is a sorted collect_list per doc, the
    aggregation buffer bounded by document length."""
    from pyspark.sql import Window
    toks = df.select(F.col(id_col),
                     F.posexplode(words_col(F.col(text_col)))
                     .alias("pos", "tok"))
    counts = toks.groupBy("tok").agg(F.count("*").alias("n"))
    # top-V via distributed sort+limit (TakeOrdered) — a partition-less
    # window over the FULL count frame would single-task a 100-TB
    # corpus's billion-token vocabulary; the rank window then runs over
    # only the V selected rows
    topv = counts.orderBy(F.col("n").desc(), F.col("tok").asc()) \
        .limit(vocab_size)
    w = Window.orderBy(F.col("n").desc(), F.col("tok").asc())
    vocab = F.broadcast(
        topv.withColumn("tid", F.row_number().over(w))
        .select("tok", "tid"))
    enc = (toks.join(vocab, "tok", "left")
           .select(F.col(id_col), "pos",
                   F.coalesce(F.col("tid"), F.lit(0)).alias("tid")))
    return (enc.groupBy(id_col)
            .agg(F.transform(
                F.sort_array(F.collect_list(
                    F.struct(F.col("pos"), F.col("tid")))),
                lambda s: s["tid"]).alias("ids"),
                F.sum(F.when(F.col("tid") == 0, 1).otherwise(0))
                .alias("n_oov")))


def percentile_quality_filter(df: DataFrame, pct: float = 0.25,
                              text_col: str = "text",
                              id_col: str = "doc_id") -> DataFrame:
    """Corpus-relative quality curation: keep documents whose unigram
    log-probability (the perplexity proxy, unigram_logprob) is at or
    above the corpus ``pct`` quantile — the 'drop the worst quartile'
    pass every curation pipeline runs after absolute rule filters.

    The threshold is ONE exact interpolated percentile over the
    per-doc scores (a single small aggregate — score rows, not corpus
    rows) broadcast back as a one-row cross, so the whole filter adds
    one scan over the scored frame. Scores are the operator's exact
    micro-int sums, so the quantile and the comparison are integer-
    exact and engine-portable."""
    scored = (unigram_logprob(df, text_col=text_col, id_col=id_col)
              .where(F.col("n_tokens") > 0)
              .withColumn("_score",
                          F.col("lp_micro_sum") / F.col("n_tokens")))
    thr = scored.agg(F.expr(f"percentile(_score, {pct})").alias("_thr"))
    return (scored.crossJoin(F.broadcast(thr))
            .where(F.col("_score") >= F.col("_thr"))
            .drop("_thr", "_score"))


# Held-out perplexity: one split -> score -> aggregate scaffold ----------

def _heldout_split(df: DataFrame, text_col: str, id_col: str,
                   keys: list):
    """(train, test) halves of the deterministic 90/10 held-out split:
    repo hash bucket ``h64(id) % 10000 < 9000`` trains (the
    sampling.with_split semantics), the rest is held out. Both halves
    carry ``keys``, ``id_col`` and the lower-cased text ``_t``; the
    words are split where they are exploded (:func:`_words`,
    :func:`_pairs`), because for an explode of a projected word-array
    column Spark infers ``size(_w) > 0`` below that projection and
    splits every row twice."""
    from .dedup import h64
    b = h64(F.col(id_col).cast("string")) % F.lit(10000)
    base = df.select(*[F.col(k) for k in keys], F.col(id_col),
                     F.lower(F.col(text_col)).alias("_t"), b.alias("_b"))
    return base.where(F.col("_b") < 9000), base.where(F.col("_b") >= 9000)


def _words(half: DataFrame, *cols) -> DataFrame:
    """``cols`` and one row ``w`` per word of the lower-cased text ``_t``
    (a split half, or the corpus for distinct_ngrams and zipf_fit)."""
    return half.select(*cols, F.explode(words_col(F.col("_t"))).alias("w"))


def _with_totals(sc: DataFrame, keys: list, *totals: DataFrame) -> DataFrame:
    """Attach the train-side totals (one row per key) to the held-out
    stream as broadcast dims: a join on ``keys``, or a crossJoin of
    the one-row frames when there are none."""
    for t in totals:
        sc = (sc.join(F.broadcast(t), keys) if keys
              else sc.crossJoin(F.broadcast(t)))
    return sc


def _perplexity(sc: DataFrame, keys: list, id_col: str, lp: Column,
                n_name: str, unseen: dict) -> DataFrame:
    """The shared tail of the held-out perplexity operators, one row per
    key: test docs, scored units (``n_name``), one NULL count per
    ``unseen`` entry (output name -> column that is NULL for an unseen
    unit), ``lp_micro_sum`` and ``ppl_micro``.

    Each unit's log-prob ``lp`` rounds to a micro int BEFORE the sum
    (fold-order free); perplexity exp(-mean) is a fixed literal chain
    on the two integers, 6-dp rounded and returned in micro units
    (ln/exp libm-parity contract, as bm25/logreg)."""
    agg = sc.groupBy(*keys).agg(
        F.countDistinct(id_col).alias("n_test_docs"),
        F.count(F.lit(1)).alias(n_name),
        *[F.sum(F.col(c).isNull().cast("long")).alias(name)
          for name, c in unseen.items()],
        F.sum(micro(lp)).alias("lp_micro_sum"))
    mean = (F.col("lp_micro_sum") / F.lit(1000000.0)) / F.col(n_name)
    ppl = micro(round6_binary(F.exp(-mean)))
    return agg.select(*keys, "n_test_docs", n_name, *unseen,
                      "lp_micro_sum", ppl.alias("ppl_micro"))


def heldout_perplexity(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Held-out perplexity of the corpus-trained unigram LM — the
    eval-side twin of unigram_logprob and the standard sanity metric a
    data pipeline tracks across corpus versions (rising held-out ppl =
    the new crawl drifted).

    The LM is add-1 smoothed over the TRAIN vocabulary so held-out OOV
    tokens score ln(1/(T+V+1)) instead of -inf (split and perplexity
    tail: :func:`_heldout_split`, :func:`_perplexity`).

    ONE row out: test doc/token counts, OOV count, lp_micro_sum, and
    ppl_micro. Scale shape: token-count shuffle + one broadcast-able
    vocab join + two one-row aggregates — the unigram_logprob plan plus
    a split predicate evaluated in the scan."""
    train, test = _heldout_split(df, text_col, id_col, [])
    ttoks = _words(train)
    vocab = ttoks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    tot = ttoks.agg(F.count(F.lit(1)).alias("total"))
    vs = vocab.agg(F.count(F.lit(1)).alias("v"))
    htoks = _words(test, id_col)
    sc = _with_totals(htoks.join(vocab, "w", "left"), [], tot, vs)
    lp = F.log((F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(1))
               .cast("double")
               / (F.col("total") + F.col("v") + F.lit(1)).cast("double"))
    return _perplexity(sc, [], id_col, lp, "n_test_tokens",
                       {"n_oov": "cnt"})


def _bigrams_col(words: Column) -> Column:
    """array<struct<w1,w2>> of adjacent word pairs — MAP-ONLY (one
    transform over the word array; no lag window, no positional
    self-join). Empty below two words."""
    return F.when(
        F.size(words) >= 2,
        F.transform(F.sequence(F.lit(1), F.size(words) - 1),
                    lambda i: F.struct(
                        F.element_at(words, i).alias("w1"),
                        F.element_at(words, i + 1).alias("w2")))
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))


def _pairs(half: DataFrame, *cols) -> DataFrame:
    """``cols`` and one row ``p`` = (w1, w2) per adjacent word pair of
    ``_t`` (:func:`_bigrams_col` over the word array projected once)."""
    return (half.select(*cols, words_col(F.col("_t")).alias("_w"))
            .select(*cols, F.explode(_bigrams_col(F.col("_w"))).alias("p")))


def _bigram_counts(train: DataFrame, test: DataFrame, keys: list,
                   id_col: str):
    """(vocab, bg, hbg) per key of a :func:`_heldout_split`: the train
    vocabulary ``(keys, w, cnt)``, the train bigram counts ``(keys, w1,
    w2, c12)`` and the held-out bigram stream ``(keys, id_col, w1,
    w2)``."""
    vocab = (_words(train, *keys).groupBy(*keys, "w")
             .agg(F.count(F.lit(1)).alias("cnt")))
    bg = (_pairs(train, *keys)
          .groupBy(*keys, F.col("p.w1").alias("w1"),
                   F.col("p.w2").alias("w2"))
          .agg(F.count(F.lit(1)).alias("c12")))
    hbg = _pairs(test, *keys, id_col).select(
        *keys, id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    return vocab, bg, hbg


def bigram_heldout_perplexity(df: DataFrame, text_col: str = "text",
                              id_col: str = "doc_id") -> DataFrame:
    """Held-out perplexity of an INTERPOLATED BIGRAM LM — the
    word-order-aware upgrade of :func:`heldout_perplexity` (unigram ppl
    is blind to shuffled or boilerplate-stitched text; bigram ppl is
    the standard next sanity metric a data pipeline tracks).

    Jelinek-Mercer mix with a fixed λ = 0.75 (exact in binary, so both
    engines multiply the same double):

        p(w2|w1) = 0.75·c(w1w2)/c(w1)      (ML bigram; 0 if c(w1)=0)
                 + 0.25·(c(w2)+1)/(T+V+1)  (heldout_ppl's add-1 unigram)

    ONE row out: (n_test_docs, n_test_bigrams, n_unseen_ctx,
    n_unseen_pair, lp_micro_sum, ppl_micro). Scale shape: two grouped
    counts over the train stream, the held-out stream joined on
    (w1,w2) and twice on the unigram vocab (word-key shuffles), two
    one-row broadcast totals."""
    train, test = _heldout_split(df, text_col, id_col, [])
    vocab, bg, hbg = _bigram_counts(train, test, [], id_col)
    tot = _words(train).agg(F.count(F.lit(1)).alias("total"))
    vs = vocab.agg(F.count(F.lit(1)).alias("v"))
    sc = _with_totals(
        hbg.join(bg, ["w1", "w2"], "left")
        .join(vocab.select(F.col("w").alias("w1"),
                           F.col("cnt").alias("c1")), "w1", "left")
        .join(vocab.select(F.col("w").alias("w2"),
                           F.col("cnt").alias("c2")), "w2", "left"),
        [], tot, vs)
    p_bg = F.when(
        F.col("c1").isNotNull(),
        F.lit(0.75) * (F.coalesce(F.col("c12"), F.lit(0)).cast("double")
                       / F.col("c1").cast("double"))).otherwise(F.lit(0.0))
    p_uni = F.lit(0.25) * ((F.coalesce(F.col("c2"), F.lit(0)) + F.lit(1))
                           .cast("double")
                           / (F.col("total") + F.col("v") + F.lit(1))
                           .cast("double"))
    return _perplexity(sc, [], id_col, F.log(p_bg + p_uni),
                       "n_test_bigrams",
                       {"n_unseen_ctx": "c1", "n_unseen_pair": "c12"})


def pmi_top_bigrams(df: DataFrame, text_col: str = "text",
                    min_count: int = 5, k: int = 50) -> DataFrame:
    """Top-k adjacent-word pairs by pointwise mutual information — the
    classic collocation extractor (Church & Hanks 1990): PMI =
    ln(p(w1w2) / (p(w1)·p(w2))) with p(w1w2) = c12/B over bigram
    tokens and p(w) = c/N over unigram tokens, floored at
    ``min_count`` co-occurrences so rare-pair noise (PMI's known
    pathology) never reaches the ranking.

    Shape: one (word) count and one (w1, w2) count over the corpus
    (the bigram_ppl passes), two dict-sized equi-joins to attach c1/c2,
    and the N / B totals ride as FULL-FRAME windows over their own
    dict tables BEFORE the join (no crossJoin, no re-scan). Engine
    parity: the PMI double chain is the identical expression of exact
    int64 counts — ln((c12·N / (c1·c2)) · (N/B)) with c12·N and c1·c2
    exact int64 (envelope: N ≤ ~3e9 like the repo's other count
    products) — micro-rounded BEFORE the (pmi desc, w1, w2) ranking,
    so ordering is integer-deterministic. Output ≤ k rows:
    (w1, w2, c12, c1, c2, pmi_micro)."""
    from pyspark.sql import Window
    wt = Window.partitionBy().rowsBetween(Window.unboundedPreceding,
                                          Window.unboundedFollowing)
    toks = (df.select(F.explode(
        words_col(F.lower(F.col(text_col)))).alias("w"))
        .where(F.col("w") != ""))
    # localCheckpoint the Zipf-bounded (word, count) dict: it is joined
    # TWICE below (c1 and c2), and each plan reference would otherwise
    # re-run its corpus scan — checkpointed, the corpus is touched once
    # per counting pass (unigrams + bigrams), never per join side
    uni = (toks.groupBy("w")
           .agg(F.count(F.lit(1)).cast("long").alias("c"))
           .withColumn("n_tok", F.sum("c").over(wt).cast("long"))
           .localCheckpoint(eager=True))
    bg = (df.select(F.explode(_bigrams_col(
        words_col(F.lower(F.col(text_col))))).alias("p"))
        .where((F.col("p.w1") != "") & (F.col("p.w2") != ""))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
        .withColumn("n_bg", F.sum("c12").over(wt).cast("long"))
        .where(F.col("c12") >= min_count))
    j = (bg.join(uni.select(F.col("w").alias("w1"),
                            F.col("c").alias("c1"), "n_tok"), "w1")
         .join(uni.select(F.col("w").alias("w2"),
                          F.col("c").alias("c2")), "w2"))
    pmi = F.log((F.col("c12") * F.col("n_tok")).cast("double")
                / (F.col("c1") * F.col("c2")).cast("double")
                * (F.col("n_tok").cast("double")
                   / F.col("n_bg").cast("double")))
    return (j.select("w1", "w2", "c12", "c1", "c2",
                     micro(pmi).alias("pmi_micro"))
            .orderBy(F.desc("pmi_micro"), F.asc("w1"), F.asc("w2"))
            .limit(k))


def _kn_bigram(df: DataFrame, keys: list, text_col: str,
               id_col: str) -> DataFrame:
    """The interpolated Kneser-Ney held-out perplexity of
    :func:`kn_bigram_perplexity`, one independent LM per value of
    ``keys`` (none: one corpus-wide LM). Every dict (vocab, bigrams,
    continuation/following types, B, V) carries the keys, and the
    train totals attach as broadcast dims (:func:`_with_totals`)."""
    train, test = _heldout_split(df, text_col, id_col, keys)
    vocab, bg, hbg = _bigram_counts(train, test, keys, id_col)
    vs = vocab.groupBy(*keys).agg(F.count(F.lit(1)).alias("v"))
    nf = bg.groupBy(*keys, "w1").agg(F.count(F.lit(1)).alias("nf"))
    npr = bg.groupBy(*keys, "w2").agg(F.count(F.lit(1)).alias("np"))
    bt = bg.groupBy(*keys).agg(F.count(F.lit(1)).alias("btypes"))
    # the two w1-keyed dims fuse into ONE dict-sized join (c(w1) and
    # N1+(w1·) ride together), so the held-out stream shuffles once per
    # distinct join key: (w1,w2), w1, w2
    ctx = (vocab.select(*keys, F.col("w").alias("w1"),
                        F.col("cnt").alias("c1"))
           .join(nf, [*keys, "w1"], "left"))
    sc = _with_totals(hbg.join(bg, [*keys, "w1", "w2"], "left")
                      .join(ctx, [*keys, "w1"], "left")
                      .join(npr, [*keys, "w2"], "left"),
                      keys, bt, vs)
    p_cont = ((F.coalesce(F.col("np"), F.lit(0)) + F.lit(1)).cast("double")
              / (F.col("btypes") + F.col("v") + F.lit(1)).cast("double"))
    p_seen = (F.greatest(F.coalesce(F.col("c12"), F.lit(0)).cast("double")
                         - F.lit(0.75), F.lit(0.0))
              / F.col("c1").cast("double")
              + F.lit(0.75) * F.col("nf").cast("double")
              / F.col("c1").cast("double") * p_cont)
    p = F.when(F.col("nf").isNotNull(), p_seen).otherwise(p_cont)
    return _perplexity(sc, keys, id_col, F.log(p), "n_test_bigrams",
                       {"n_unseen_ctx": "nf", "n_unseen_pair": "c12"})


def kn_bigram_perplexity_by(df: DataFrame, group_col: str,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Per-group interpolated Kneser-Ney bigram perplexity — ONE
    independent KN LM per non-NULL value of ``group_col`` (e.g.
    language), the grouped twin of :func:`kn_bigram_perplexity` (see
    that docstring for the model). Groups never share counts; the
    one-row broadcast totals become |groups|-row broadcast dims.
    Output one row per group: (group_col, n_test_docs, n_test_bigrams,
    n_unseen_ctx, n_unseen_pair, lp_micro_sum, ppl_micro)."""
    return _kn_bigram(df.where(F.col(group_col).isNotNull()), [group_col],
                      text_col, id_col)


def kn_bigram_perplexity(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Held-out perplexity of an INTERPOLATED KNESER-NEY bigram LM —
    the standard LM-eval smoothing (Kneser & Ney 1995; Chen & Goodman
    1999 found interpolated KN the consistently best n-gram smoother),
    completing the family next to add-1 unigram (heldout_ppl) and
    Jelinek-Mercer bigram (bigram_ppl). KN's insight: the backoff
    weight of a word is how many distinct CONTEXTS it follows
    (continuation count), not its raw frequency — 'Francisco' is
    frequent but predictable from 'San', so its continuation mass is
    tiny.

    With discount D = 0.75 (exact in binary) and train-side counts
    c(w1 w2), c(w1), N1+(w1·) = distinct words following w1,
    N1+(·w2) = distinct words preceding w2, B = distinct bigram types,
    V = vocab size:

        p_cont(w2)  = (N1+(·w2) + 1) / (B + V + 1)      (add-1 so
                       unseen words keep a finite logprob)
        p(w2|w1)    = max(c(w1w2) − D, 0)/c(w1)
                      + (D·N1+(w1·)/c(w1)) · p_cont(w2)   if N1+(w1·) > 0
                    = p_cont(w2)                           otherwise
                      (contexts with no train bigram — unseen words and
                       doc-final-only words — back off fully)

    ONE row out, the bigram_ppl shape: (n_test_docs, n_test_bigrams,
    n_unseen_ctx, n_unseen_pair, lp_micro_sum, ppl_micro) — unseen_ctx
    here counts N1+(w1·)-null contexts. Scale: the same two grouped
    counts as bigram_ppl plus two dict-sized distinct-neighbor counts
    DERIVED FROM the bigram table (no extra corpus pass), two one-row
    broadcast totals."""
    return _kn_bigram(df, [], text_col, id_col)


# Sentence segmentation --------------------------------------------------

# unit separator: the injected sentence-boundary marker. Safe for the
# ASCII fixtures (cannot collide with document bytes; documented in the
# oracle that relies on it, same convention as the dup-span oracles).
_US = "\x1f"


def split_sentences(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Regex sentence segmentation: a terminator run ([.!?]) followed
    by spaces ends a sentence. Emits one row per non-empty sentence:
    (id, sent_idx, sentence, n_words) with sent_idx the 0-based
    PRE-filter position, so downstream windows can reconstruct
    adjacency even after empty segments drop.

    Mechanics: a unit separator (chr 31) is injected AFTER each
    terminator+spaces run, then one split + posexplode — all map-side
    built-ins inside WholeStageCodegen, no shuffle. Lookbehind is
    deliberately avoided: the inject-then-split form runs identically
    under Java regex (Spark) and RE2 (DuckDB), so the oracle replays
    it verbatim."""
    marked = F.regexp_replace(F.col(text_col), "([.!?]) +", "$1" + _US)
    ex = df.select(F.col(id_col),
                   F.posexplode(F.split(marked, _US))
                    .alias("sent_idx", "_raw"))
    sent = F.trim(F.col("_raw"))
    n_words = F.size(F.filter(F.split(sent, r"\s+"), lambda w: w != ""))
    return (ex.where(sent != "")
            .select(id_col, F.col("sent_idx").cast("long").alias("sent_idx"),
                    sent.alias("sentence"),
                    n_words.cast("long").alias("n_words")))


# Corpus diversity --------------------------------------------------------

def domain_entropy(df: DataFrame, text_col: str = "text",
                   domain_col: str = "source") -> DataFrame:
    """Shannon entropy (nats) of the word distribution per domain — the
    diversity metric a data-mixing step logs next to its sampling
    factors (low entropy = templated/boilerplate domain). One row per
    domain: (domain, n_tokens, vocab, s_micro, entropy).

    Exactness: H = ln(N) - (sum_w cnt_w * ln(cnt_w)) / N. Each per-word
    term is scaled to a micro-int BEFORE the sum (floor(cnt*ln(cnt)*1e6
    + 0.5) — int64), so the corpus-wide sum is summation-order
    independent (the unigram_logprob discipline); ln is the IEEE libm
    call both engines agree on for these integer-valued inputs, and the
    final three-op float chain is replayed verbatim by the oracle.

    Scale shape: explode -> one partial+final (domain, word) count ->
    one per-domain aggregate; the shuffle carries one row per distinct
    (domain, word), never per token."""
    toks = df.select(F.col(domain_col).alias("domain"),
                     F.explode(words_col(F.col(text_col))).alias("w"))
    toks = toks.where(F.col("w") != "")
    cnts = (toks.groupBy("domain", "w")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    term = F.col("cnt").cast("double") * F.log(F.col("cnt").cast("double"))
    term_micro = F.floor(term * F.lit(1e6) + F.lit(0.5)).cast("long")
    agg = (cnts.groupBy("domain")
           .agg(F.sum("cnt").cast("long").alias("n_tokens"),
                F.count(F.lit(1)).cast("long").alias("vocab"),
                F.sum(term_micro).alias("s_micro")))
    nd = F.col("n_tokens").cast("double")
    h = (F.log(nd)
         - (F.col("s_micro").cast("double") / F.lit(1e6)) / nd)
    return agg.select("domain", "n_tokens", "vocab", "s_micro",
                      round6_binary(h).alias("entropy"))


def distinct_ngrams(df: DataFrame, group_col: str = "source",
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Distinct-1 / distinct-2 diversity ratios per group (Li et al.
    2016's dialogue-diversity metrics, the standard mode-collapse
    check on generated/synthetic training data): distinct n-grams over
    total n-grams, lower = more repetitive corpus.

    One explode per n; counts are exact int64 (distinct via
    countDistinct on the n-gram itself — at 100 TB swap in the
    HLL/KMV sketches for the distinct term, same report shape);
    ratios at the exact scaled-integer 6-dp rounding. Output per
    group: (group, n_tokens, n_distinct_1, distinct1_ratio,
    n_bigrams, n_distinct_2, distinct2_ratio)."""
    base = df.select(F.col(group_col).alias("grp"),
                     F.lower(F.col(text_col)).alias("_t"))
    uni = (_words(base, "grp")
           .where(F.col("w") != "")
           .groupBy("grp")
           .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
                F.countDistinct("w").cast("long").alias("n_distinct_1")))
    bi = (_pairs(base, "grp")
          .select("grp", F.concat_ws(" ", F.col("p.w1"), F.col("p.w2"))
                  .alias("b"))
          .groupBy("grp")
          .agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"),
               F.countDistinct("b").cast("long").alias("n_distinct_2")))
    return (uni.join(bi, "grp")
            .select(F.col("grp").alias(group_col),
                    "n_tokens", "n_distinct_1",
                    _ratio6(F.col("n_distinct_1"), F.col("n_tokens"))
                    .alias("distinct1_ratio"),
                    "n_bigrams", "n_distinct_2",
                    _ratio6(F.col("n_distinct_2"), F.col("n_bigrams"))
                    .alias("distinct2_ratio")))


def zipf_fit(df: DataFrame, group_col: str = "source",
             text_col: str = "text", top_n: int = 100) -> DataFrame:
    """Zipf's-law fit per group: least-squares slope/intercept of
    ln(freq) on ln(rank) over the top ``top_n`` words — natural text
    sits near slope -1; template/boilerplate corpora flatten, spam
    steepens. The corpus-quality signal next to domain_entropy.

    Engine-exact recipe (the linreg_weights discipline, 1-D closed
    form): word counts are exact int64; rank = row_number by
    (count DESC, word); ln(rank)/ln(count) round to MILLI ints (1e3 —
    keeps n·Σxy inside int64 at any top_n the window can hold), the
    four sums are exact int64, and slope/intercept are double divides
    of exact ints, 6-dp rounded. One token-count shuffle + one bounded
    per-group window (top_n rows/group).

    Output: (group, n_points, slope, intercept) — slope/intercept in
    MILLI-ln units (dimensionless, comparable across groups)."""
    from pyspark.sql import Window

    base = df.select(F.col(group_col).alias("grp"),
                     F.lower(F.col(text_col)).alias("_t"))
    cnt = (_words(base, "grp")
           .where(F.col("w") != "")
           .groupBy("grp", "w")
           .agg(F.count(F.lit(1)).cast("long").alias("c")))
    win = Window.partitionBy("grp").orderBy(F.desc("c"), F.asc("w"))
    ranked = (cnt.withColumn("r", F.row_number().over(win))
              .where(F.col("r") <= top_n))
    pts = ranked.select(
        "grp", micro(F.log(F.col("r").cast("double")), 3).alias("x"),
        micro(F.log(F.col("c").cast("double")), 3).alias("y"))
    s = pts.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"))
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    slope = round6_binary(num.cast("double") / den.cast("double"))
    intercept = round6_binary(
        (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
        / F.col("n").cast("double"))
    return s.select(F.col("grp").alias(group_col),
                    F.col("n").cast("int").alias("n_points"),
                    slope.alias("slope"), intercept.alias("intercept"))


def novel_ngram_rate(df: DataFrame, n: int = 3, text_col: str = "text",
                     id_col: str = "doc_id",
                     group_col: str = "lang") -> DataFrame:
    """Per-group rate of eval-split n-grams NEVER seen in the train
    split — the memorization/novelty audit next to decontaminate's
    document-level check: a near-zero novelty rate means the held-out
    set is recombinations of training text (leakage or a saturated
    domain); a high rate means genuine distribution shift.

    Split is the repo's deterministic md5 coin (bigram_ppl convention:
    h64(doc_id) % 10000, < 9000 → train). Both sides reduce to their
    DISTINCT (group, gram) sets first — the counts compare gram
    VOCABULARIES, not token frequencies — then one left-anti equi-join
    on (group, gram) marks the novel ones. All counts exact int64;
    the rate is the house exact 6-dp ratio. Output per group:
    (group, n_eval_grams, n_novel_grams, novel_ratio).

    Scale: two grouped DISTINCTs over the gram stream (partial
    aggregation absorbs the heavy duplication map-side) and one
    anti-join keyed by the gram — no corpus-sized collect anywhere;
    skewed grams are exact-duplicate keys and collapse in the partial
    aggregate before the shuffle."""
    from .dedup import h64
    b = h64(F.col(id_col).cast("string")) % F.lit(10000)
    base = df.select(F.col(group_col).alias("grp"),
                     ngram_array(words_col(F.col(text_col)), n)
                     .alias("_g"),
                     (b < F.lit(9000)).alias("_train"))
    grams = base.select("grp", "_train", F.explode("_g").alias("g"))
    train = grams.where(F.col("_train")).select("grp", "g").distinct()
    ev = grams.where(~F.col("_train")).select("grp", "g").distinct()
    novel = ev.join(train, ["grp", "g"], "left_anti")
    tot = ev.groupBy("grp").agg(F.count(F.lit(1)).cast("long")
                                .alias("n_eval_grams"))
    nov = novel.groupBy("grp").agg(F.count(F.lit(1)).cast("long")
                                   .alias("n_novel_grams"))
    out = (tot.join(nov, "grp", "left")
           .select(F.col("grp").alias(group_col), "n_eval_grams",
                   F.coalesce(F.col("n_novel_grams"), F.lit(0))
                   .alias("n_novel_grams")))
    return out.withColumn(
        "novel_ratio",
        _ratio6(F.col("n_novel_grams"), F.col("n_eval_grams")))


# ------------------------------------------------- document chunking

def chunk_documents(docs: DataFrame, size: int = 64, stride: int = 48,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Sliding-window document chunking — the context-window
    preprocessing step of RAG indexing and long-document pretraining:
    whitespace tokens in windows of ``size`` advancing by ``stride``
    (overlap = size - stride), the last window truncated, documents
    shorter than one window emitting exactly one chunk, empty
    documents none. MAP-ONLY: tokenize, compute the chunk count
    arithmetically, explode a guarded sequence (F.sequence(1, 0)
    yields DESCENDING [1, 0], not empty — the repo's sequence trap),
    and slice — the corpus never shuffles, so this runs at ingest
    bandwidth at any scale. Chunk ids are 0-based and deterministic.

    Returns (id_col, chunk_id int, n_tokens long, chunk_text string).
    """
    if size < 1 or stride < 1 or stride > size:
        raise ValueError("chunk_documents: need size >= 1 and "
                         "1 <= stride <= size")
    w = F.filter(words_col(F.col(text_col)), lambda x: x != "")
    n = F.size(w)
    nc = (F.when(n == 0, F.lit(0))
          .when(n <= size, F.lit(1))
          .otherwise(F.floor((n - F.lit(size) + F.lit(stride) - 1)
                             / F.lit(stride)).cast("int") + F.lit(1)))
    ids = F.when(nc >= 1, F.sequence(F.lit(0), nc - 1)) \
        .otherwise(F.array().cast("array<int>"))
    base = docs.select(F.col(id_col), w.alias("_w"),
                       F.explode(ids).alias("chunk_id"))
    chunk = F.slice(F.col("_w"), F.col("chunk_id") * stride + 1, size)
    return base.select(
        F.col(id_col), F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"))


def phrase_positions(docs: DataFrame, phrase_words, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document sorted position arrays for each word of a phrase:
    (id, p0..p{k-1}) where p_i lists the 0-based token positions of
    phrase word i. ONE posexplode + ONE grouped aggregate whatever the
    phrase length — the positional-postings shape of an inverted
    index, built on demand for the phrase's words only (the full
    corpus index is never materialized). Positions refer to the
    engine's whitespace token stream (words_col)."""
    if not phrase_words:
        raise ValueError("phrase_positions: empty phrase")
    tok = docs.select(
        F.col(id_col),
        F.posexplode(words_col(F.col(text_col))).alias("_p", "_w"))
    aggs = [F.sort_array(F.collect_list(
        F.when(F.col("_w") == w, F.col("_p")))).alias(f"p{i}")
        for i, w in enumerate(phrase_words)]
    return tok.groupBy(id_col).agg(*aggs)


def phrase_search(docs: DataFrame, phrase: str, k: int = 20,
                  text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Exact multi-word phrase search: documents where the phrase's
    tokens occur CONSECUTIVELY in the whitespace token stream, with
    per-doc match counts, top-``k`` by (n_matches desc, id asc) via
    orderBy+limit (TakeOrdered — no global single-task window).

    The match is pure positional arithmetic on the per-word postings
    of :func:`phrase_positions`: a phrase starting at position p needs
    word i at p + i, so the match-start set is the intersection of the
    shifted position arrays — ``array_intersect(p0, p1 - 1, p2 - 2,
    ...)``, all JVM built-ins. No substring matching is involved, so
    tokens never match inside longer words and any whitespace run
    separates tokens identically (the two ways a LIKE-based scan
    lies). One shuffle total; the phrase words' postings are the only
    state, so a 100 TB corpus pays one tokenize pass + one grouped
    aggregate bounded by occurrences of those k words."""
    pw = [w for w in phrase.split() if w]
    pos = phrase_positions(docs, pw, text_col, id_col)
    m = F.col("p0")
    for i in range(1, len(pw)):
        m = F.array_intersect(
            m, F.transform(F.col(f"p{i}"), _shift_by(-i)))
    out = pos.select(F.col(id_col),
                     F.size(m).cast("long").alias("n_matches"))
    return (out.where(F.col("n_matches") > 0)
            .orderBy(F.col("n_matches").desc(), F.col(id_col))
            .limit(k))


def _shift_by(d: int):
    """Factory returning a ONE-parameter lambda (the HOF introspection
    rule — a second parameter, even defaulted, would receive the
    element index)."""
    def one(x):
        return x + F.lit(d)
    return one
