"""Unigram-LM tokenizer training (SentencePiece's algorithm family,
Kudo 2018) — the second major subword trainer next to BPE.

Like the BPE module, training runs on the WORD-FREQUENCY DICTIONARY:
the corpus collapses once into (distinct word, count) and every EM
round works on that Zipf-bounded dict — the 100 TB shape (one
corpus-sized pass total; each round is dict-sized work plus ONE
bounded model collect, the Lloyd-centroid sync).

Deterministic, engine-portable variant (documented deviations from
the SentencePiece reference, which is neither deterministic across
platforms nor replayable in SQL):

* seed vocabulary = every substring of length 1..MAX_PIECE of every
  dict word (frequency-weighted, per occurrence), capped to the top
  ``seed_multi_cap`` multi-char pieces by (count desc, piece asc) —
  plus ALL single characters (guaranteed coverage);
* piece scores are micro-int log-probs  micro(ln(cnt / total)) —
  Viterbi then compares exact int64 sums, so segmentation is
  bit-deterministic on both engines (the only doubles are the ln
  calls, identical-argument libm on both sides — the heldout_ppl
  "libm-parity contract");
* hard-EM (Viterbi) rounds instead of full forward-backward: E-step
  re-segments the dict by the current scores (longest-piece tie
  rule), M-step recounts pieces along the Viterbi paths
  (frequency-weighted), keeps the top ``vocab_multi_cap`` multi-char
  pieces, keeps all single chars with +1 Laplace flooring (a char
  pushed to zero by multi-piece coverage must stay encodable), and
  rescores;
* words longer than MAX_WORD characters are excluded from training
  (they are overwhelmingly URLs/hashes; the dict filter is replayed
  by the oracle).

The Viterbi DP is a pure JVM fold (F.aggregate over positions with an
int64 best-score array, then a second fold walking the path) — zero
Python in any per-word work; the DuckDB oracle replays it with a
recursive CTE carrying the same best list and the same tie rule.
"""

from __future__ import annotations

from typing import List, Tuple

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from .text import words_col
from .util import memo_get, micro

#: training-dict word-length cap (longer words are URLs/hashes)
MAX_WORD = 24
#: maximum piece length (seed substrings and DP lookback)
MAX_PIECE = 4
#: micro-logprob sentinel for "piece not in vocab" — dominates any
#: real path score (|score| <= ~20e6 micro per piece, <= MAX_WORD
#: pieces per word)
NEG = -(10 ** 12)


def word_dict(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(w, n): distinct words with corpus frequencies, length-capped."""
    return (docs.select(F.explode(words_col(F.col(text_col))).alias("w"))
            .where((F.col("w") != "") & (F.length("w") <= MAX_WORD))
            .groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("n")))


#: process-level memo of the (eagerly localCheckpoint-ed) word dict —
#: the ONLY corpus-sized frame in training; without it every EM round
#: and the seed re-scan the corpus (the BPE dict-checkpoint precedent)
_DICT_CACHE: dict = {}


def _dict_cached(docs: DataFrame, text_col: str, cache_key):
    if cache_key is None:
        return word_dict(docs, text_col)
    k = (cache_key, text_col)
    return memo_get(_DICT_CACHE, k,
                    lambda: word_dict(docs, text_col)
                    .localCheckpoint(eager=True))


def _substrings(w: Column) -> Column:
    """All substrings of length 1..MAX_PIECE, one entry PER OCCURRENCE
    (array<string>) — nested JVM transforms, no Python."""
    return F.flatten(F.transform(
        F.sequence(F.lit(1), F.length(w)),
        lambda i: F.transform(
            F.sequence(F.lit(1),
                       F.least(F.lit(MAX_PIECE), F.length(w) - i + 1)),
            lambda k: w.substr(i, k))))


def _scored(pieces: DataFrame) -> DataFrame:
    """Attach micro-int log-prob scores: micro(ln(cnt/total)) with
    total as a full-frame window (no cross join)."""
    t = pieces.withColumn("_tot",
                          F.sum("cnt").over(Window.partitionBy())
                          .cast("long"))
    return t.select(
        "piece", "cnt",
        micro(F.log(F.col("cnt") / F.col("_tot"))).alias("score_micro"))


def _score_map(fitted: List[Tuple[str, int, int]]) -> Column:
    """piece -> score_micro literal map (model inlined, map-only DP)."""
    return F.map_from_arrays(
        F.array(*[F.lit(p) for p, _, _ in fitted]),
        F.array(*[F.lit(int(s)).cast("long") for _, _, s in fitted]))


def viterbi_bests(w: Column, smap: Column) -> Column:
    """int64 best-score array of length len(w)+1 (bests[1] = 0 = the
    empty prefix): bests[j+1] = max over k=1..min(MAX_PIECE, j) of
    bests[j-k+1] + score(substr(w, j-k+1, k)), missing pieces = NEG."""
    def sc(j, k):
        return F.coalesce(
            F.element_at(smap, w.substr(j - F.lit(k - 1), F.lit(k))),
            F.lit(NEG).cast("long"))

    def step(acc, j):
        cands = [
            F.when(j >= F.lit(k),
                   F.element_at(acc, j - F.lit(k - 1)) + sc(j, k))
            .otherwise(F.lit(NEG).cast("long"))
            for k in range(1, MAX_PIECE + 1)]
        return F.concat(acc, F.array(F.greatest(*cands)))

    return F.aggregate(
        F.sequence(F.lit(1), F.length(w)),
        F.expr("array(CAST(0 AS BIGINT))"),
        step)


def viterbi_pieces(w: Column, bests: Column, smap: Column) -> Column:
    """Viterbi path pieces (suffix-first order — callers only count or
    size). Tie rule: the LARGEST k whose backstep reproduces bests —
    prefer the longest piece, mirrored by the oracle's list_max."""
    def sc(pos, k):
        return F.coalesce(
            F.element_at(smap, w.substr(pos - F.lit(k - 1), F.lit(k))),
            F.lit(NEG).cast("long"))

    def k_ok(pos, k):
        return ((pos >= F.lit(k))
                & (F.element_at(bests, pos - F.lit(k - 1)) + sc(pos, k)
                   == F.element_at(bests, pos + F.lit(1))))

    def step(st, _):
        pos = st["pos"]
        kstar = F.lit(1)
        for k in range(MAX_PIECE, 1, -1):
            if k == MAX_PIECE:
                kstar = F.when(k_ok(pos, k), F.lit(k))
            else:
                kstar = kstar.when(k_ok(pos, k), F.lit(k))
        kstar = kstar.otherwise(F.lit(1))
        piece = w.substr(pos - kstar + F.lit(1), kstar)
        return F.when(pos <= F.lit(0), st).otherwise(F.struct(
            (pos - kstar).alias("pos"),
            F.concat(st["parts"], F.array(piece)).alias("parts")))

    init = F.struct(
        F.length(w).alias("pos"),
        F.expr("CAST(array() AS array<string>)").alias("parts"))
    return F.aggregate(F.sequence(F.lit(1), F.length(w)), init,
                       step)["parts"]


def unigram_round(dic: DataFrame,
                  fitted: List[Tuple[str, int, int]],
                  vocab_multi_cap: int) -> DataFrame:
    """One hard-EM round: Viterbi-resegment the dict with ``fitted``,
    recount pieces (frequency-weighted), prune multi-char pieces to
    the cap, floor single chars at +1, rescore. Returns the new
    scored vocab frame (piece, cnt, score_micro)."""
    smap = _score_map(fitted)
    w = F.col("w")
    seg = dic.select(
        "n", viterbi_pieces(w, viterbi_bests(w, smap), smap)
        .alias("parts"))
    vcnt = (seg.select(F.explode("parts").alias("piece"), "n")
            .groupBy("piece").agg(F.sum("n").cast("long").alias("vc")))
    chars = (dic.sparkSession
             .createDataFrame([(p,) for p, _, _ in fitted
                               if len(p) == 1], "piece string"))
    kept_chars = (chars.join(vcnt, "piece", "left")
                  .select("piece", (F.coalesce(F.col("vc"), F.lit(0))
                                    + F.lit(1)).cast("long").alias("cnt")))
    multi = (vcnt.where(F.length("piece") > 1)
             .orderBy(F.desc("vc"), F.asc("piece"))
             .limit(vocab_multi_cap)
             .select("piece", F.col("vc").alias("cnt")))
    return _scored(kept_chars.unionByName(multi))


#: process-level memo of trained vocabularies (the kmeans-cache
#: contract: caller-supplied corpus key; deterministic fit)
_UNIGRAM_CACHE: dict = {}


def seed_vocab(docs: DataFrame, text_col: str = "text",
               seed_multi_cap: int = 128, cache_key=None) -> DataFrame:
    """The round-0 (seed) scored vocabulary frame."""
    dic = _dict_cached(docs, text_col, cache_key)
    seed_cnt = (dic.select(F.explode(_substrings(F.col("w")))
                           .alias("piece"), "n")
                .groupBy("piece").agg(F.sum("n").cast("long")
                                      .alias("cnt")))
    chars = seed_cnt.where(F.length("piece") == 1)
    # top-N via orderBy+limit (TakeOrderedAndProject): distributed
    # partial top-N per partition, NO single-task global-window sort
    # over the millions of distinct substrings (cnt desc, piece asc is
    # a total order — pieces are unique — so this equals the
    # row_number form the oracle replays)
    multi = (seed_cnt.where(F.length("piece") > 1)
             .orderBy(F.desc("cnt"), F.asc("piece"))
             .limit(seed_multi_cap))
    return _scored(chars.unionByName(multi))


def _collect_fitted(frame: DataFrame) -> List[Tuple[str, int, int]]:
    return sorted(
        ((r["piece"], int(r["cnt"]), int(r["score_micro"]))
         for r in frame.collect()),
        key=lambda t: (-t[1], t[0]))


def unigram_vocab_frame(docs: DataFrame, text_col: str = "text",
                        rounds: int = 2, seed_multi_cap: int = 128,
                        vocab_multi_cap: int = 64,
                        cache_key=None) -> DataFrame:
    """The scored vocabulary FRAME after ``rounds`` hard-EM rounds
    (rounds = 0 -> the seed). The frame stays engine-side — the query
    output; :func:`unigram_train` is its collected twin."""
    if rounds == 0:
        return seed_vocab(docs, text_col, seed_multi_cap,
                          cache_key=cache_key)
    fitted = unigram_train(docs, text_col, rounds - 1, seed_multi_cap,
                           vocab_multi_cap, cache_key=cache_key)
    return unigram_round(_dict_cached(docs, text_col, cache_key),
                         fitted, vocab_multi_cap)


def unigram_train(docs: DataFrame, text_col: str = "text",
                  rounds: int = 2, seed_multi_cap: int = 128,
                  vocab_multi_cap: int = 64,
                  cache_key=None) -> List[Tuple[str, int, int]]:
    """Train the unigram-LM vocabulary; returns the fitted model as a
    driver-side list of (piece, cnt, score_micro) sorted by
    (cnt desc, piece asc) — bounded (vocab_multi_cap + alphabet), the
    shippable tokenizer artifact. ``rounds`` hard-EM rounds after the
    seed (rounds = 0 -> the seed itself); each round costs dict-sized
    Spark work + one bounded model collect."""
    if rounds < 0:
        raise ValueError("unigram_train: rounds must be >= 0")
    key = (cache_key, text_col, rounds, seed_multi_cap, vocab_multi_cap)

    def fit():
        return _collect_fitted(unigram_vocab_frame(
            docs, text_col, rounds, seed_multi_cap, vocab_multi_cap,
            cache_key=cache_key))

    if cache_key is None:
        return fit()
    return memo_get(_UNIGRAM_CACHE, key, fit)


#: process-level memo of the (eagerly localCheckpoint-ed) word-token
#: tables — the DP over the dict is seconds of work and the table is
#: dict-sized; a stream-static join would otherwise re-run the DP for
#: every micro-batch (streaming/drift.py streaming_unigram_fertility)
_TOKTAB_CACHE: dict = {}


def word_token_table(docs: DataFrame,
                     fitted: List[Tuple[str, int, int]],
                     text_col: str = "text",
                     cache_key=None) -> DataFrame:
    """(w, wtoks, wchars) for every dict word: the Viterbi DP run ONCE
    per DISTINCT word (the dict is Zipf-small next to the corpus).
    With a ``cache_key`` the frame is eagerly localCheckpoint-ed and
    memoized, so consumers that re-evaluate their plan (streaming
    micro-batches, repeated reports) reuse the computed table instead
    of re-running the DP."""
    smap = _score_map(fitted)
    w = F.col("w")
    dic = _dict_cached(docs, text_col, cache_key)
    toks = dic.select(
        "w", F.size(viterbi_pieces(w, viterbi_bests(w, smap), smap))
        .cast("long").alias("wtoks"),
        F.length("w").cast("long").alias("wchars"))
    if cache_key is None:
        return toks
    k = (cache_key, text_col, tuple(fitted))
    return memo_get(_TOKTAB_CACHE, k,
                    lambda: toks.localCheckpoint(eager=True))


def unigram_encode_stats(docs: DataFrame,
                         fitted: List[Tuple[str, int, int]],
                         group_col: str = "lang",
                         text_col: str = "text",
                         cache_key=None) -> DataFrame:
    """Tokenize every dict word with the fitted vocab and report, per
    ``group_col``: exact word/token/char totals and the 6-dp fertility
    (tokens per word). The per-word token count is joined back onto
    the corpus words via :func:`word_token_table`, so the expensive DP
    runs once per DISTINCT word."""
    from .text import _ratio6
    toks = word_token_table(docs, fitted, text_col, cache_key)
    corpus = (docs.select(F.col(group_col).alias("grp"),
                          F.explode(words_col(F.col(text_col)))
                          .alias("w"))
              .where((F.col("w") != "") & (F.length("w") <= MAX_WORD)))
    j = corpus.join(F.broadcast(toks), "w")
    return (j.groupBy("grp")
            .agg(F.count(F.lit(1)).cast("long").alias("n_words"),
                 F.sum("wtoks").cast("long").alias("n_tokens"),
                 F.sum("wchars").cast("long").alias("n_chars"))
            .select(F.col("grp").alias(group_col), "n_words", "n_tokens",
                    "n_chars",
                    _ratio6(F.col("n_tokens"), F.col("n_words"))
                    .alias("fertility")))


def fertility_finalize(totals: DataFrame,
                       group_col: str = "lang") -> DataFrame:
    """Shared exact 6-dp tail over (group, n_words, n_tokens,
    n_chars) totals — identical to unigram_encode_stats' output."""
    from .text import _ratio6
    return totals.select(
        group_col, "n_words", "n_tokens", "n_chars",
        _ratio6(F.col("n_tokens"), F.col("n_words")).alias("fertility"))
