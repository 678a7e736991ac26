"""Deterministic hash-based dataset splitting and sampling.

A training pipeline must split corpora into train/valid/test (and draw
reproducible samples) such that (a) membership is a pure function of a
stable key — re-running on new hardware, another engine, or tomorrow's
snapshot yields the SAME split; (b) no shuffle or global sort is needed
— the assignment is a map-side expression evaluated inside the scan
stage. ``rand()``-based splits fail (a); ``ORDER BY hash LIMIT n``
sampling fails (b) at 100 TB.

The hash is the repo-wide md5-prefix convention (operators/dedup.py):
``bigint(md5(key)[0:8])`` — 32 bits of the md5 as an int64 — so the
DuckDB oracle reproduces every assignment bit-for-bit.
"""

from __future__ import annotations

from typing import Mapping, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .util import micro

HASH_BUCKETS = 10_000


def hash_bucket(key: Column, buckets: int = HASH_BUCKETS) -> Column:
    """Deterministic bucket in [0, buckets): the repo-wide md5-prefix
    hash (dedup.h64 — ONE definition, so the oracle mirror can never
    desynchronize) of the key's string form, mod buckets. Pure built-ins
    (md5/conv are JVM expressions) — whole-stage-codegen'd, no UDF."""
    from .dedup import h64
    return h64(key.cast("string")) % buckets


def with_split(df: DataFrame, key_col: str,
               weights: Mapping[str, int] = None,
               split_col: str = "split") -> DataFrame:
    """Assign each row a split label by hash-bucket range. ``weights``
    maps label → integer weight; ranges are cumulative over
    HASH_BUCKETS (default 98/1/1 train/valid/test). Assignment depends
    only on the key: adding rows later never moves an existing row
    between splits."""
    weights = dict(weights or {"train": 9800, "valid": 100, "test": 100})
    total = sum(weights.values())
    if total != HASH_BUCKETS:
        raise ValueError(
            f"weights must sum to {HASH_BUCKETS}, got {total}")
    b = hash_bucket(F.col(key_col))
    expr = None
    acc = 0
    for label, w in weights.items():
        acc += w
        cond = b < acc
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    return df.withColumn(split_col, expr)


def deterministic_sample(df: DataFrame, key_col: str, fraction: float) -> DataFrame:
    """Keep ~fraction of rows, chosen by key hash — reproducible across
    runs/engines and consistent for a given key across datasets (joins
    between same-key samples stay aligned, unlike df.sample)."""
    keep = int(round(fraction * HASH_BUCKETS))
    return df.where(hash_bucket(F.col(key_col)) < keep)


def reservoir_sample(df: DataFrame, key_col: str, k: int) -> DataFrame:
    """Fixed-size uniform sample WITHOUT replacement — the distributed,
    replayable equivalent of reservoir sampling: every row draws the
    deterministic coin (md5(key), key) and the k smallest coins win.
    A sequential reservoir (Vitter's Algorithm R) keeps the first k
    rows and randomly evicts — order-dependent state that neither
    distributes nor replays; ranking a uniform coin produces the same
    distribution (each k-subset equally likely under the hash-as-uniform
    model) as ONE TakeOrdered: per-partition top-k + a k-row driver
    merge, no full sort, no shuffle of the corpus. The md5 coin makes
    the draw a pure function of the key — same sample on any engine,
    any partitioning, any day (the Efraimidis-Spirakis clock trick
    wrs_topn uses, with unit weights and no strata).

    Returns the k winners with ``sample_rank`` (1-based coin order).
    The rank window runs AFTER the limit, over k rows — bounded."""
    if k < 1:
        raise ValueError(f"reservoir_sample: k must be >= 1, got {k}")
    from pyspark.sql import Window
    from .util import fresh_name as _fresh
    coin = _fresh("_coin", df.columns)
    won = (df.withColumn(coin, F.md5(F.col(key_col).cast("string")))
           .orderBy(F.col(coin).asc(), F.col(key_col).asc())
           .limit(k))
    w = Window.partitionBy().orderBy(F.col(coin).asc(),
                                     F.col(key_col).asc())
    return (won.withColumn("sample_rank",
                           F.row_number().over(w).cast("int"))
            .drop(coin))


def stratified_sample(df: DataFrame, stratum_col: str, key_col: str,
                      n_per_stratum: int) -> DataFrame:
    """Exactly min(n, |stratum|) rows per stratum, chosen and ORDERED by
    the md5 hex of the key (ties broken by the key itself) — a
    deterministic "uniform" draw that every engine reproduces, unlike
    df.sampleBy's seeded-RNG approximation which guarantees neither
    exact counts nor cross-engine agreement.

    Scale: one shuffle on the stratum key; Spark lowers the
    rank-then-filter to a per-partition top-n (WindowGroupLimit pushes
    the limit below the exchange), so no stratum is ever fully sorted —
    the map side keeps only n rows per stratum per partition. Stratum
    skew is bounded by n, not by |stratum|."""
    if n_per_stratum < 1:
        raise ValueError(f"n_per_stratum must be >= 1, got {n_per_stratum}")
    from pyspark.sql import Window
    from .util import fresh_name as _fresh
    order = F.md5(F.col(key_col).cast("string"))
    w = (Window.partitionBy(stratum_col)
         .orderBy(order.asc(), F.col(key_col).asc()))
    rn = _fresh("_rn", df.columns)  # never shadow a user column
    return (df.withColumn(rn, F.row_number().over(w))
            .where(F.col(rn) <= n_per_stratum)
            .drop(rn))


def pack_sequences(df: DataFrame, token_col: str, budget: int,
                   key_col: str = "doc_id", buckets: int = 64,
                   bucket_col: str = None) -> DataFrame:
    """Assign each document a (bucket, seq_id, offset) for fixed-budget
    sequence packing: within a bucket, documents are laid out in key
    order on one conceptual token stream and the stream is sliced every
    ``budget`` tokens — the "concat then chunk" packing used for LLM
    pretraining batches. ``seq_id`` = which slice this document STARTS
    in; ``seq_offset`` = its start position inside that slice. Documents
    may straddle a boundary (the consumer splits or pads); a bucket's
    sequences are exactly full except the last.

    Why not greedy first-fit bin packing: that needs a sequential reset
    accumulator (order-dependent, not a window function), serializes per
    bucket, and buys little — straddling is how Megatron/GPT-style
    loaders actually pack. This form is ONE window shuffle over
    ``buckets``-way hashed groups (bucket size ~ corpus/buckets — pick
    buckets so a bucket's rows fit one task), all built-ins, and every
    assignment is a pure function of (key, tokens) — the oracle mirrors
    it with the same SUM() OVER window.

    ``bucket_col``: group by an existing column (e.g. a curriculum or
    domain label) instead of the hash bucket."""
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    from pyspark.sql import Window
    from .util import fresh_name as _fresh
    pb = None
    if bucket_col is None:
        # derived hash bucket: compact int output column; fresh internal
        # name so a user column is never shadowed then dropped
        pb = _fresh("_pb", df.columns)
        df = df.withColumn(pb, hash_bucket(F.col(key_col), buckets))
        bucket_col, bucket_out = pb, F.col(pb).cast("int")
    else:
        # caller's grouping column: keep its type as-is
        bucket_out = F.col(bucket_col)
    w = (Window.partitionBy(bucket_col).orderBy(F.col(key_col).asc())
         .rowsBetween(Window.unboundedPreceding, -1))
    start = F.coalesce(F.sum(F.col(token_col)).over(w),
                       F.lit(0)).cast("long")
    out = (df
           .withColumn("bucket", bucket_out)
           .withColumn("seq_id", F.floor(start / budget).cast("long"))
           .withColumn("seq_offset", (start % budget).cast("int")))
    return out.drop(pb) if pb is not None else out


def weighted_sample(df: DataFrame, stratum_col: str, key_col: str,
                    fractions: Mapping[str, float],
                    default_fraction: float = 0.0) -> DataFrame:
    """Per-stratum deterministic sampling — the domain-mixing step of a
    pretraining pipeline ("keep 50% of web, all of books, 10% of
    code"): each stratum keeps ~fraction of its rows, membership a pure
    function of the key hash (same md5-bucket convention as
    deterministic_sample, so re-runs and other engines agree row for
    row, and same-key rows stay aligned across datasets).

    Map-side only: the stratum→threshold lookup compiles to a CASE
    expression against the hash bucket — no shuffle, no join, evaluated
    inside the scan stage. Strata absent from ``fractions`` keep
    ``default_fraction`` of their rows (0.0 = drop unknown domains,
    loudly visible in counts)."""
    for k, v in fractions.items():
        if not (0.0 <= v <= 1.0):
            raise ValueError(f"fraction for {k!r} must be in [0,1], got {v}")
    if not (0.0 <= default_fraction <= 1.0):
        raise ValueError(
            f"default_fraction must be in [0,1], got {default_fraction}")
    thr = None
    for label, frac in fractions.items():
        keep = int(round(frac * HASH_BUCKETS))
        cond = F.col(stratum_col) == label
        thr = F.when(cond, keep) if thr is None else thr.when(cond, keep)
    thr = (thr.otherwise(int(round(default_fraction * HASH_BUCKETS)))
           if thr is not None
           else F.lit(int(round(default_fraction * HASH_BUCKETS))))
    return df.where(hash_bucket(F.col(key_col)) < thr)


def seeded_shuffle(df: DataFrame, key_col: str, seed: str,
                   order_col: str = "shuffle_order",
                   buckets: int = 256) -> DataFrame:
    """Deterministic global training-order shuffle: rows ranked by
    md5(seed || key) — the standard 'epoch shuffle' a 100-TB pipeline
    needs to be reproducible across engines and runs (df.orderBy(rand)
    is neither); changing ``seed`` gives an independent permutation
    while keys keep their identity.

    The dense 1-based ``order_col`` is the classic TWO-PHASE global
    rank — a partition-less row_number window would pull the whole
    corpus through one task. Phase 1: rows rank WITHIN their
    digest-prefix bucket (the first hex chars partition the uniform
    digest space, so ``buckets`` parallel windows); phase 2: per-bucket
    counts (a tiny aggregate) become cumulative offsets broadcast back.
    Both phases shuffle on the bucket key only; the composition is
    exactly the digest-lexicographic global order because bucket order
    is digest-prefix order."""
    from pyspark.sql import Window
    digest = F.md5(F.concat(F.lit(seed), F.lit("|"),
                            F.col(key_col).cast("string")))
    nhex = max(1, (buckets - 1).bit_length() // 4 + 1)
    d = df.withColumn("_digest", digest).withColumn(
        "_bkt", F.conv(F.substring(F.col("_digest"), 1, nhex), 16, 10)
        .cast("int"))
    w = Window.partitionBy("_bkt").orderBy(
        F.col("_digest").asc(), F.col(key_col).cast("string").asc())
    ranked = d.withColumn("_rn", F.row_number().over(w))
    counts = (ranked.groupBy("_bkt").agg(F.count("*").alias("_n")))
    offs = F.broadcast(
        counts.withColumn(
            "_off",
            F.coalesce(
                F.sum("_n").over(
                    Window.orderBy("_bkt")
                    .rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0)))
        .select("_bkt", "_off"))
    return (ranked.join(offs, "_bkt")
            .withColumn(order_col, (F.col("_rn") + F.col("_off"))
                        .cast("long"))
            .drop("_digest", "_bkt", "_rn", "_off"))
def alpha_factors(docs: DataFrame, domain_col: str,
                  alpha: float = 0.5) -> DataFrame:
    """Integer-exact α-(temperature) resampling factors, the XLM-R /
    mT5 recipe: domain d is sampled with p_d ∝ n_d^α, corpus size
    preserved, so each of d's docs replicates r_d = p_d·N/n_d times in
    expectation. Returns (domain, r_micro bigint) — the factor in
    millionths, computed with integers only after the one float op:
    n^α goes through the micro-int rounding (floor(x·1e6+0.5)) BEFORE
    the cross-domain sum, so the result is summation-order independent
    and engine-portable (α=0.5 is IEEE-exact sqrt in every engine).
    One tiny aggregate (n_domains rows) + a one-row total — broadcast
    dimensions, no corpus-sized float math anywhere."""
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    counts = docs.groupBy(domain_col).agg(F.count(F.lit(1)).alias("_n"))
    s_micro = F.floor(F.pow(F.col("_n").cast("double"), F.lit(alpha))
                      * 1e6 + F.lit(0.5)).cast("long")
    cs = counts.select(F.col(domain_col), "_n", s_micro.alias("_s"))
    tot = F.broadcast(cs.agg(F.sum("_s").alias("_S"),
                             F.sum("_n").alias("_N")))
    # alias both sides: tot derives from cs, so unqualified _s/_n would
    # be ambiguous in the self-join
    return (cs.alias("c").crossJoin(tot.alias("t"))
            .select(F.col(f"c.{domain_col}").alias(domain_col),
                    F.expr("(c._s * t._N * 1000000) div (t._S * c._n)")
                    .cast("long").alias("r_micro")))


def resample_by_factor(docs: DataFrame, factors: DataFrame,
                       domain_col: str, key_col: str,
                       seed: str = "as1") -> DataFrame:
    """Deterministic fractional replication: each row gets
    floor(r)+coin copies where the coin is md5(seed|key) % 1e6 <
    frac(r)·1e6 — a pure function of the key, so re-runs and engines
    agree row for row (the up-sampling complement of weighted_sample's
    down-sampling CASE). ``factors`` is a (domain, r_micro bigint)
    dimension — broadcast, tiny — and the explode is map-side: no
    shuffle touches the corpus. Output adds ``copy_id`` (1-based);
    rows whose domain is absent from ``factors`` are dropped (factor
    0, loudly visible in counts)."""
    h = F.conv(F.substring(F.md5(F.concat(
        F.lit(seed + "|"), F.col(key_col).cast("string"))), 1, 8),
        16, 10).cast("long")
    n_copies = (F.expr("r_micro div 1000000")
                + F.when((h % 1000000) < F.col("r_micro") % 1000000, 1)
                .otherwise(0)).cast("int")
    return (docs.join(F.broadcast(factors), domain_col)
            .withColumn("_nc", n_copies)
            .where(F.col("_nc") > 0)
            .withColumn("copy_id",
                        F.explode(F.sequence(F.lit(1), F.col("_nc"))))
            .drop("_nc", "r_micro"))


def wrs_topn(df: DataFrame, stratum_col: str, key_col: str,
             weight: Column, n: int, seed_tag: str = "ws") -> DataFrame:
    """Weighted random sampling WITHOUT replacement (Efraimidis &
    Spirakis A-ES, the exponential-clock form): each row draws a
    deterministic uniform u from its key hash and competes with clock
    -ln(u)/w — the n smallest clocks per stratum are a weight-
    proportional exact-size sample. The per-row-weight companion to
    :func:`weighted_sample`'s per-stratum fractions (sample importance
    ∝ quality score / length / dedup count, not just domain).

    Determinism/parity: u = (h+1)/2^32 with h = seeded_h64(key) —
    the division is by a power of two, so u is an EXACT double; the
    clock rounds to micro ints before ranking (ties then by key), and
    -ln under the libm-parity contract — the SQL oracle replays the
    race bit-for-bit.

    Scale shape: the clock is map-only; the rank is the standard
    per-stratum top-n window (bounded strata). Mergeable like any
    min-k: unioned partitions re-rank to the same winners, so partial
    top-n per shard + re-rank is the unbounded-stratum path (the
    kmv_quantile_sketch shard pattern). Output: stratum, key, weight
    (w), clock_micro, rank (1..n by ascending clock)."""
    from pyspark.sql import Window

    from .sketch import seeded_h64
    w = weight.cast("long")
    u = (seeded_h64(seed_tag, 0, F.col(key_col)) + F.lit(1)) \
        .cast("double") / F.lit(4294967296.0)
    clock = -F.log(u) / w.cast("double")
    clock_micro = micro(clock)
    base = df.select(F.col(stratum_col), F.col(key_col),
                     w.alias("w"), clock_micro.alias("clock_micro"))
    win = Window.partitionBy(stratum_col).orderBy("clock_micro", key_col)
    return (base.withColumn("rank", F.row_number().over(win))
            .where(F.col("rank") <= n)
            .select(stratum_col, key_col, "w", "clock_micro",
                    F.col("rank").cast("int").alias("rank")))


def curriculum_order(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", n_buckets: int = 10,
                     seed: str = "cur") -> DataFrame:
    """Curriculum ordering for training: documents bucketed by
    corpus-relative quality decile (mean unigram log-probability — the
    perplexity proxy percentile_quality_filter thresholds on), best
    decile first, with a deterministic md5 shuffle key inside each
    bucket (quality-ordered epochs with no intra-bucket bias — the
    standard easy-to-hard curriculum construction).

    Scale shape: scoring is the unigram_logprob plan; the n_buckets-1
    thresholds are ONE exact interpolated percentile aggregate over
    the per-doc score rows, broadcast back as a one-row cross; bucket
    assignment and the shuffle key are map-only. The writer sorts by
    (bucket, sort_key) — no global sort happens here. Output:
    (id, n_tokens, lp_micro_sum, bucket 0=best, sort_key)."""
    from .sketch import seeded_h64
    from .text import unigram_logprob
    scored = (unigram_logprob(df, text_col=text_col, id_col=id_col)
              .where(F.col("n_tokens") > 0)
              .withColumn("_score",
                          F.col("lp_micro_sum") / F.col("n_tokens")))
    qs = ", ".join(str(i / n_buckets) for i in range(1, n_buckets))
    thr = scored.agg(F.expr(f"percentile(_score, array({qs}))")
                     .alias("_thr"))
    n_at_or_below = F.size(F.filter(
        F.col("_thr"), lambda t: t <= F.col("_score")))
    return (scored.crossJoin(F.broadcast(thr))
            .select(F.col(id_col), "n_tokens", "lp_micro_sum",
                    (F.lit(n_buckets - 1) - n_at_or_below).cast("int")
                    .alias("bucket"),
                    seeded_h64(seed, 0, F.col(id_col)).alias("sort_key")))


def temperature_mix_weights(df: DataFrame, group_col: str = "lang",
                            text_col: str = "text",
                            tau: int = 2) -> DataFrame:
    """Temperature-scaled domain-mixture weights (the multilingual-
    pretraining sampling rule, mT5 §3.1 / UniMax lineage): sampling
    weight per domain ∝ n_tokens^(1/τ) — τ = 1 reproduces proportional
    sampling, τ = 2 (the default here) up-weights low-resource domains
    by sampling ∝ √n_tokens. The PLANNER companion to the fixed-weight
    applier (weighted_sample / domain_mix): this computes the weights
    a budget is then split by.

    Only τ ∈ {1, 2} is supported — τ = 2's sqrt of an exact int64 is
    one correctly-rounded IEEE op (the mcc_multiclass discipline),
    whereas a general pow() has no cross-engine parity guarantee. The
    scaled size is milli-rounded to int64 BEFORE normalization, so the
    denominator is an exact integer sum (fold-order free) and the
    weight is the house exact 6-dp ratio — no float sum ever crosses
    engines. Output per domain: (group, n_docs, n_tokens, size_milli,
    weight); weights sum to 1 ± the 6-dp rounding of each term.

    Scale: one map pass + one |domains|-sized grouped sum; the total
    rides as a full-frame window over the dict table (no crossJoin,
    no re-scan)."""
    from pyspark.sql import Window

    from .text import _ratio6, words_col
    if tau not in (1, 2):
        raise ValueError(
            f"temperature_mix_weights: tau must be 1 or 2, got {tau}")
    per = (df.select(F.col(group_col).alias("grp"),
                     F.size(words_col(F.col(text_col))).cast("long")
                     .alias("_n"))
           .groupBy("grp")
           .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("_n").cast("long").alias("n_tokens")))
    if tau == 1:
        sz = F.col("n_tokens") * F.lit(1000)
    else:
        sz = F.floor(F.sqrt(F.col("n_tokens").cast("double"))
                     * F.lit(1000.0) + F.lit(0.5)).cast("long")
    per = per.withColumn("size_milli", sz)
    wt = Window.partitionBy().rowsBetween(Window.unboundedPreceding,
                                          Window.unboundedFollowing)
    tot = F.sum("size_milli").over(wt)
    return per.select(F.col("grp").alias(group_col), "n_docs",
                      "n_tokens", "size_milli",
                      _ratio6(F.col("size_milli"), tot).alias("weight"))


def dsir_select(docs: DataFrame, target: Column, k: int = 50,
                n_buckets: int = 64, id_col: str = "doc_id",
                text_col: str = "text",
                seed_tag: str = "dsir") -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023): pick the corpus documents whose hashed-n-gram profile looks
    most like a TARGET subset, by importance weight
    p_target(features)/p_source(features) under a bag-of-hashed-ngrams
    model, then Gumbel-top-k resampling. The principled "give me
    pretraining data shaped like my domain" selector next to the
    heuristic quality filters (gopher_quality) and the geometric ones
    (semantic_dedup).

    Exact-int discipline end to end:
      * features = word unigrams + bigrams hashed into ``n_buckets``
        buckets (h64 % B — the shared md5 convention);
      * per-bucket counts for target (rows where ``target``) and
        source (ALL rows) are exact int64; the Laplace-smoothed
        log-ratio collapses to ONE ln of an exact-int64 rational,
        micro-rounded:  lr[b] = micro(ln( ((ct+1)·(ts+B)) /
        ((tt+B)·(cs+1)) ))  — libm-parity contract;
      * a document's log-weight is the exact int64 SUM of its grams'
        lr micro-ints (join against the broadcast B-row table);
      * Gumbel key: u = (seeded_h64(id)+1)/(2^32+1), strictly inside
        (0,1) so -ln(-ln(u)) is always finite (u=1 would be NULL in
        Spark / -inf in DuckDB); same IEEE division in both engines,
        g = micro(-ln(-ln(u))), key = logw + g — exact int64, so
        the top-k race replays bit-for-bit;
      * top-k via orderBy(key desc, id).limit(k) — TakeOrdered, no
        global window.

    Scale: two corpus passes (bucket histogram, per-doc weights), a
    B-row broadcast, a distributed top-k. Output: (id, logw_micro,
    key_micro, rank)."""
    from pyspark.sql import Window

    from .dedup import h64
    from .sketch import seeded_h64
    from .text import ngram_array, words_col

    if k < 1 or n_buckets < 2:
        raise ValueError("dsir_select: need k >= 1, n_buckets >= 2")
    B = int(n_buckets)
    w = words_col(F.col(text_col))
    grams = F.concat(w, ngram_array(w, 2))
    base = docs.select(F.col(id_col).alias("_id"),
                       target.alias("_t"), grams.alias("_g"))
    g = (base.select("_t", F.explode("_g").alias("gram"))
         .where(F.col("gram") != "")
         .select("_t", F.pmod(h64(F.col("gram")), F.lit(B))
                 .alias("bucket")))
    # NULL-target rows count as not-target (0), matching the oracle's
    # CASE WHEN ... ELSE 0: a bucket whose every row has NULL target
    # must yield ct=0, not a NULL that nulls its lr_micro downstream.
    hist = (g.groupBy("bucket")
            .agg(F.sum(F.when(F.col("_t"), F.lit(1))
                       .otherwise(F.lit(0))).cast("long")
                 .alias("ct"),
                 F.count(F.lit(1)).cast("long").alias("cs")))
    wall = Window.partitionBy()
    hist = (hist
            .withColumn("tt", F.sum("ct").over(wall).cast("long"))
            .withColumn("ts", F.sum("cs").over(wall).cast("long")))
    num = ((F.col("ct") + F.lit(1)) * (F.col("ts") + F.lit(B)))
    den = ((F.col("tt") + F.lit(B)) * (F.col("cs") + F.lit(1)))
    lr = F.log(num.cast("double") / den.cast("double"))
    lr_micro = micro(lr)
    lrt = hist.select("bucket", lr_micro.alias("lr_micro"))

    dg = (base.select("_id", F.explode("_g").alias("gram"))
          .where(F.col("gram") != "")
          .select("_id", F.pmod(h64(F.col("gram")), F.lit(B))
                  .alias("bucket")))
    logw = (dg.join(F.broadcast(lrt), "bucket")
            .groupBy("_id")
            .agg(F.sum("lr_micro").cast("long").alias("logw_micro")))
    scored = (base.select("_id").distinct()
              .join(logw, "_id", "left")
              .withColumn("logw_micro",
                          F.coalesce(F.col("logw_micro"),
                                     F.lit(0).cast("long"))))
    # strictly interior u in (0, 1): divide by 2^32 + 1 so hash
    # 2^32-1 maps to u < 1 (u = 1 would make -ln(-ln(u)) NULL in
    # Spark and -inf in DuckDB, silently dropping the doc)
    u = (seeded_h64(seed_tag, 0, F.col("_id")) + F.lit(1)) \
        .cast("double") / F.lit(4294967297.0)
    gum = -F.log(-F.log(u))
    gum_micro = micro(gum)
    keyed = scored.withColumn(
        "key_micro", (F.col("logw_micro") + gum_micro).cast("long"))
    top = (keyed.orderBy(F.desc("key_micro"), F.asc("_id")).limit(k)
           .withColumn("rank", F.row_number().over(
               Window.partitionBy().orderBy(F.desc("key_micro"),
                                            F.asc("_id")))
               .cast("int")))
    return top.select(F.col("_id").alias(id_col), "logw_micro",
                      "key_micro", "rank")
