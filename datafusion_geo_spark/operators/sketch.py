"""Sketch operators — the bounded-state summaries a 100 TB pipeline
reaches for when exact shuffles stop fitting: CountMin heavy hitters,
Bloom-filter incremental dedup, and HyperLogLog registers.

Every sketch here is DETERMINISTIC: hash row i of a sketch uses
``bigint(md5('<tag><i>|' || s)[0:8])`` (the repo-wide md5-prefix hash,
see operators/dedup.py h64), so the DuckDB oracle replays each cell,
bit position, and register bit-for-bit — including the sketch's own
false positives / over-counts, which are a pure function of the hash.

Scale shape (the whole point of a sketch):
- CountMin: explode each token into ``depth`` (row, cell) updates and
  let Catalyst's partial hash aggregate combine them map-side — the
  shuffle carries at most depth*width rows PER TASK no matter how many
  tokens a task saw. The merged sketch (depth*width rows, a few KB) is
  then a broadcast dimension for estimation joins.
- Bloom: the corpus pass is a distinct on a key space bounded by ``m``
  (map-side combined, shuffle <= m rows per task); membership at query
  time is a broadcast equi-join against the <= m set bit positions —
  the corpus itself is never re-shuffled per batch.
- HLL: one grouped max over (register) — 2^b groups, map-side
  combined; merging two sketches is the same max, so the register
  table IS the mergeable state a rollup tree would ship.
"""

from __future__ import annotations

from typing import Optional

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .util import round6_binary

__all__ = ["seeded_h64", "count_min_sketch", "count_min_topk",
           "bloom_positions", "bloom_filter_new",
           "hll_registers", "hll_estimate", "hll_by_group",
           "cms_join_size", "kmv_quantile_sketch"]


def seeded_h64(tag: str, i: int, c: Column) -> Column:
    """Hash row i of a sketch family: first 8 md5 hex chars of
    ``'<tag><i>|' || c`` as a non-negative bigint in [0, 2^32) —
    DuckDB twin ``('0x' || substr(md5('<tag><i>|' || s),1,8))::BIGINT``."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{tag}{i}|"),
                                   c.cast("string"))), 1, 8),
        16, 10).cast("long")


def count_min_sketch(tokens: DataFrame, tok_col: str,
                     depth: int = 4, width: int = 1024) -> DataFrame:
    """CountMin sketch of a token stream: one row per non-empty cell,
    columns (row, cell, cnt). Each input row contributes ``depth``
    updates; the grouped SUM is partial+final, so a map task emits at
    most depth*width rows into the shuffle regardless of its input
    size — the sketch-merge dataflow, not a token-count shuffle."""
    if depth < 1 or width < 2:
        raise ValueError(f"count_min_sketch: bad depth={depth} width={width}")
    t = F.col(tok_col)
    tokens = tokens.where(t.isNotNull())  # null tokens carry no mass
    cells = F.array(*[
        F.struct(F.lit(i).alias("row"),
                 (seeded_h64("cm", i, t) % width).alias("cell"))
        for i in range(depth)])
    return (tokens.select(F.explode(cells).alias("u"))
            .groupBy(F.col("u.row").alias("row"),
                     F.col("u.cell").alias("cell"))
            .agg(F.count(F.lit(1)).alias("cnt")))


def count_min_topk(tokens: DataFrame, tok_col: str, k: int,
                   depth: int = 4, width: int = 1024,
                   candidates: Optional[DataFrame] = None) -> DataFrame:
    """Heavy hitters by CountMin estimate: candidate tokens scored
    est = min over rows of sketch[row][h_row(tok)], top ``k`` by
    (est desc, token asc). The sketch side of the join is at most
    depth*width rows — broadcast — so scoring is one scan of the
    candidate side with no big-to-big shuffle. Estimates over-count on
    collisions by construction; the oracle replays the same
    collisions, so rows match exactly.

    ``candidates`` defaults to the stream's distinct tokens — correct
    but a corpus-sized distinct at 100 TB; production callers pass a
    bounded candidate frame (per-partition local tops, a watchlist, a
    prior round's hitters) and the whole query then touches the raw
    stream only through the bounded-shuffle sketch build."""
    sk = count_min_sketch(tokens, tok_col, depth, width)
    t = F.col(tok_col)
    if candidates is None:
        candidates = tokens.where(t.isNotNull()).select(t.alias("tok")) \
                           .distinct()
    else:
        candidates = (candidates.where(F.col(tok_col).isNotNull())
                      .select(F.col(tok_col).alias("tok")).distinct())
    probes = (candidates
              .select("tok", F.explode(F.array(*[
                  F.struct(F.lit(i).alias("row"),
                           (seeded_h64("cm", i, F.col("tok")) % width)
                           .alias("cell"))
                  for i in range(depth)])).alias("u"))
              .select("tok", "u.row", "u.cell"))
    est = (probes.join(F.broadcast(sk), ["row", "cell"])
           .groupBy("tok").agg(F.min("cnt").alias("est_cnt")))
    return (est.orderBy(F.col("est_cnt").desc(), F.col("tok").asc())
            .limit(k))


def bloom_positions(keys: DataFrame, key_col: str,
                    m: int = 65536, k: int = 4) -> DataFrame:
    """The set bit positions of a Bloom filter over ``keys`` — one row
    per distinct position (<= m rows total, a broadcastable dimension
    regardless of corpus size). Positions: h_i(key) % m, i in [0, k)."""
    if m < 2 or k < 1:
        raise ValueError(f"bloom_positions: bad m={m} k={k}")
    c = F.col(key_col)
    pos = F.array(*[(seeded_h64("bf", i, c) % m) for i in range(k)])
    return (keys.where(c.isNotNull())
            .select(F.explode(pos).alias("pos")).distinct())


def bloom_filter_new(corpus: DataFrame, batch: DataFrame, key_col: str,
                     m: int = 65536, k: int = 4,
                     positions: Optional[DataFrame] = None) -> DataFrame:
    """Incremental dedup with bounded state: batch rows whose key is
    DEFINITELY not in ``corpus`` (at least one of its k Bloom positions
    unset). Rows where all k positions are set are dropped as probable
    dups — the standard Bloom trade: no false negatives, deterministic
    false positives that the oracle replays exactly.

    vs incremental_exact_dedup (operators/dedup.py): that anti-join
    shuffles O(corpus) hashes per batch; this shuffles the corpus ONCE
    into <= m positions, then every batch is a broadcast join against
    that fixed m-row set — the right trade when batches are frequent
    and an FP rate of ~(1-e^{-kn/m})^k is acceptable."""
    if positions is None:
        positions = bloom_positions(corpus, key_col, m, k)
    c = F.col(key_col)
    probe = (batch.where(c.isNotNull())
             .select(c.alias("_key")).distinct()
             .select("_key", F.explode(F.array(
                 *[(seeded_h64("bf", i, F.col("_key")) % m)
                   for i in range(k)])).alias("pos"))
             .distinct())
    flagged = probe.join(
        F.broadcast(positions.withColumn("_set", F.lit(1))), "pos", "left")
    dup_keys = (flagged.groupBy("_key")
                .agg(F.min(F.coalesce(F.col("_set"), F.lit(0)))
                     .alias("_all_set"))
                .where(F.col("_all_set") == 1)
                .select(F.col("_key").alias(key_col)))
    return batch.join(dup_keys, key_col, "left_anti")


def hll_registers(keys: DataFrame, key_col: str, b: int = 8,
                  group_cols: tuple = ()) -> DataFrame:
    """HyperLogLog register table: (register, rho) with
    register = h(key) % 2^b and rho = position of the leftmost 1-bit in
    the remaining 32-b hash bits (1-based; empty registers absent).
    One grouped MAX over 2^b groups — map-side combined, and the
    register table is the mergeable sketch state itself (union of two
    corpora = same grouped MAX over both tables). rho is computed from
    the minimal binary length of the residual value — integer-exact in
    both engines (Spark ``bin``, DuckDB ``bin``) — so the oracle
    matches register-for-register; the float cardinality estimate is
    deliberately left to the consumer.

    ``group_cols`` keeps one independent sketch per group (e.g. one
    distinct-user HLL per domain): the grouped MAX runs over
    (group, register) — still map-side combined, still <= |groups|*2^b
    rows of shuffle per task."""
    if not 2 <= b <= 16:
        raise ValueError(f"hll_registers: b must be in [2, 16], got {b}")
    m = 1 << b
    keys = keys.where(F.col(key_col).isNotNull())  # null keys: no mass
    h = seeded_h64("hll", 0, F.col(key_col))
    reg = (h % m).alias("register")
    v = F.shiftright(h, b)  # residual (32-b)-bit value, exact
    rho = F.when(v > 0, F.lit(32 - b + 1) - F.length(F.bin(v))) \
           .otherwise(F.lit(32 - b + 1)).cast("int")
    g = [F.col(c) for c in group_cols]
    return (keys.select(*g, reg, rho.alias("_rho"))
            .groupBy(*group_cols, "register")
            .agg(F.max("_rho").alias("rho")))
def hll_estimate(keys: DataFrame, key_col: str, b: int = 8) -> DataFrame:
    """One-row HyperLogLog cardinality estimate from the register
    table: n_registers, the EXACT integer indicator sum
    z_scaled = sum(2^(maxrho - rho)) (fits int64: <= 2^b * 2^maxrho —
    order-independent, unlike a float fold), and the Flajolet estimate
    est = alpha_m * m^2 / (z_scaled / 2^maxrho), with the standard
    small-range linear-counting correction (est <= 2.5m and empty
    registers present -> m * ln(m / V)). Every float op is a fixed
    literal/op chain replayed verbatim by the oracle, so the 6-dp
    binary-rounded estimate hashes identically."""
    if b != 8:
        raise ValueError("hll_estimate: oracle constants are b=8 only")
    return regs_estimate(hll_registers(keys, key_col, b), b)


def regs_estimate(regs: DataFrame, b: int = 8,
                  group_cols: tuple = ()) -> DataFrame:
    """The Flajolet estimate chain from a (register, rho) table — the
    shared tail of hll_estimate, hll_set_ops, and hll_by_group (ONE
    definition, so the literal float chain can never desynchronize
    from its oracle replay). With ``group_cols`` the same chain runs
    per group (register tables keyed by group)."""
    m = 1 << b
    maxrho = 32 - b + 1
    alpha_m = 0.7213 / (1.0 + 1.079 / float(m))
    aggs = [
        F.count(F.lit(1)).alias("n_registers"),
        F.sum(F.pow(F.lit(2.0), F.lit(maxrho) - F.col("rho"))
              .cast("long")).alias("z_scaled")]
    agg = regs.groupBy(*group_cols).agg(*aggs) if group_cols \
        else regs.agg(*aggs)
    v = F.lit(m) - F.col("n_registers")
    # empty registers carry rho=0 -> indicator 2^0 each: their mass is
    # (m - V_occupied) * 2^maxrho in scaled units. Omitting it (the
    # pre-r6-late bug) only cancels on DENSE tables; a sparse sketch
    # (hll_set_ops sides) then overestimates by orders of magnitude.
    z_full = (F.col("z_scaled")
              + v.cast("long") * F.lit(1 << maxrho)).cast("double")
    raw = (F.lit(alpha_m * m * m)
           * F.lit(float(1 << maxrho)) / z_full)
    est = F.when((raw <= F.lit(2.5 * m)) & (v > 0),
                 F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")))            .otherwise(raw)
    return agg.select(*group_cols, "n_registers", "z_scaled",
                      round6_binary(est).alias("est"))


def hll_by_group(keys: DataFrame, group_col: str, key_col: str,
                 b: int = 8) -> DataFrame:
    """Approximate distinct-``key_col`` per ``group_col`` — the grouped
    HLL (one row per group: n_registers, exact z_scaled, 6-dp
    estimate). The 100 TB shape: per-(group, register) grouped MAX with
    map-side combine, so the shuffle carries <= |groups| * 2^b rows per
    task no matter how many raw keys a task saw — this is what replaces
    COUNT(DISTINCT ...) GROUP BY when the distinct explosion stops
    fitting, and per-group sketches still merge by the same MAX for a
    rollup tree."""
    if b != 8:
        raise ValueError("hll_by_group: oracle constants are b=8 only")
    regs = hll_registers(keys, key_col, b, group_cols=(group_col,))
    return regs_estimate(regs, b, group_cols=(group_col,))


def hll_set_ops(a_keys: DataFrame, b_keys: DataFrame, key_col: str,
                b: int = 8) -> DataFrame:
    """HLL set algebra across two key sets — the property that makes
    sketches the right 100 TB state: register tables MERGE by grouped
    MAX (union sketch = same aggregate over both tables, no rescan of
    either corpus), and intersection follows by inclusion-exclusion on
    the three estimates. ONE row out: per-side and union register
    counts / exact indicator sums / estimates, plus est_inter =
    round6(est_a + est_b - est_union). The two one-row crosses are the
    tfidf global-aggregate shape."""
    ra = hll_registers(a_keys, key_col, b)
    rb = hll_registers(b_keys, key_col, b)
    ru = (ra.unionAll(rb).groupBy("register")
          .agg(F.max("rho").alias("rho")))
    ea = regs_estimate(ra, b).select(
        F.col("n_registers").alias("n_reg_a"),
        F.col("z_scaled").alias("z_a"), F.col("est").alias("est_a"))
    eb = regs_estimate(rb, b).select(
        F.col("n_registers").alias("n_reg_b"),
        F.col("z_scaled").alias("z_b"), F.col("est").alias("est_b"))
    eu = regs_estimate(ru, b).select(
        F.col("n_registers").alias("n_reg_u"),
        F.col("z_scaled").alias("z_u"), F.col("est").alias("est_union"))
    inter = (F.col("est_a") + F.col("est_b")) - F.col("est_union")
    inter6 = round6_binary(inter)
    return (ea.crossJoin(eb).crossJoin(eu)
            .select("n_reg_a", "z_a", "est_a", "n_reg_b", "z_b", "est_b",
                    "n_reg_u", "z_u", "est_union",
                    inter6.alias("est_inter")))


def cms_join_size(a_keys: DataFrame, b_keys: DataFrame, key_col: str,
                  depth: int = 4, width: int = 1024) -> DataFrame:
    """Join-cardinality estimation from CountMin sketches — the
    planner-side use of a sketch: |A JOIN B ON key| = sum_k
    cntA(k)*cntB(k), estimated as min over sketch rows of the cell-wise
    dot product sum_c cmsA[r,c]*cmsB[r,c]. Hash collisions only ADD
    mass, so the estimate is a guaranteed OVERestimate; the min across
    depth independent rows tightens it. This is how an engine decides
    broadcast-vs-shuffle (or warns of a fan-out join) from two
    depth*width summaries — without ever joining the data.

    The report also computes the exact truth (per-key counts
    equi-join) so the estimate's bias is visible: ONE row out
    (true_size, est_size, over_ratio at 6 dp). The estimate path
    touches only sketch cells (bounded); the truth path is one
    key-count join — drop it at scale, it exists for the audit."""
    ca = count_min_sketch(a_keys, key_col, depth, width)
    cb = count_min_sketch(b_keys, key_col, depth, width)
    dots = (ca.withColumnRenamed("cnt", "ca")
            .join(cb.withColumnRenamed("cnt", "cb"), ["row", "cell"])
            .groupBy("row")
            .agg(F.sum(F.col("ca") * F.col("cb")).cast("long")
                 .alias("dot")))
    est = dots.agg(F.min("dot").cast("long").alias("est_size"))
    ta = (a_keys.where(F.col(key_col).isNotNull()).groupBy(key_col)
          .agg(F.count(F.lit(1)).cast("long").alias("na")))
    tb = (b_keys.where(F.col(key_col).isNotNull()).groupBy(key_col)
          .agg(F.count(F.lit(1)).cast("long").alias("nb")))
    true = (ta.join(tb, key_col)
            .agg(F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0))
                 .cast("long").alias("true_size")))
    over = (F.col("est_size").cast("double")
            / F.col("true_size").cast("double"))
    return (true.crossJoin(F.broadcast(est))  # both: exactly 1 row
            .select("true_size", "est_size",
                    round6_binary(over).alias("over_ratio")))


def kmv_quantile_sketch(events: DataFrame, group_col: str, value_col: str,
                        id_col: str, user_col: str,
                        k: int = 64) -> DataFrame:
    """Mergeable bounded-state quantile + distinct sketch per group —
    the deterministic stand-in for KLL/t-digest (whose random
    compaction coin-flips no SQL oracle can replay): a KMV / bottom-k
    sketch. State per group is the k rows with the SMALLEST
    (h64(id), value) — a uniform sample because the hash order is
    value-independent — and min-k is trivially mergeable, so the
    dataflow is the sketch-merge shape:

      1. partial: a PARTITION-LOCAL bottom-k combiner (mapInPandas —
         Spark has no bounded top-k aggregate, and a collect_list
         would buffer the whole group slice before slicing): each
         input partition emits, per group it saw, <= k (h, value)
         pairs + <= k distinct user hashes + its exact row count —
         genuinely bounded map-side state, compacted batch by batch;
      2. merge: flatten the per-partition lists (<= k entries each,
         one row per (partition, group)), re-sort, re-slice to k —
         exactly how two KMV sketches union, and equal by construction
         to the GLOBAL bottom-k (each global winner wins its own
         partition), which is what the one-pass SQL oracle computes;
      3. estimate: quantile p = the sample value at rank
         max(1, ceil(p*|sample|)); the distinct-user estimate is the
         classic KMV (k-1)/h_k over the k smallest DISTINCT user
         hashes (exact count when fewer than k), at the repo's exact
         scaled-integer 6-dp rounding.

    Accuracy is the standard KMV bound (~1/sqrt(k) relative rank
    error); raising k trades state for accuracy without changing the
    plan. NULL values are excluded (their rank is undefined). Output:
    (group, n_events, n_sample, p50, p90, p99, ndv_users)."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.types import (ArrayType, DoubleType, LongType,
                                   StructField, StructType)

    from .dedup import h64
    from .text import _ratio6

    ev = events.where(F.col(value_col).isNotNull())
    hashed = ev.select(
        F.col(group_col).alias("grp"),
        h64(F.col(id_col).cast("string")).alias("h"),
        F.col(value_col).alias("v"),
        h64(F.col(user_col).cast("string")).alias("hv"))
    part_schema = StructType([
        events.schema[group_col],
        StructField("part", ArrayType(StructType([
            StructField("h", LongType()), StructField("v", DoubleType())]))),
        StructField("kmin", ArrayType(LongType())),
        StructField("n_part", LongType()),
    ])

    def local_bottomk(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pairs: dict = {}
        uh: dict = {}
        n: dict = {}
        for pdf in it:
            for g, h_, v_, hv_ in zip(pdf["grp"], pdf["h"], pdf["v"],
                                      pdf["hv"]):
                n[g] = n.get(g, 0) + 1
                pairs.setdefault(g, []).append((int(h_), float(v_)))
                uh.setdefault(g, set()).add(int(hv_))
            # compact after every Arrow batch: state stays
            # <= groups * (k + batch) entries, never the partition
            for g in pairs:
                if len(pairs[g]) > k:
                    pairs[g] = sorted(pairs[g])[:k]
                if len(uh[g]) > k:
                    uh[g] = set(sorted(uh[g])[:k])
        if n:
            yield pd.DataFrame({
                group_col: list(n),
                "part": [[{"h": h_, "v": v_}
                          for h_, v_ in sorted(pairs[g])[:k]] for g in n],
                "kmin": [sorted(uh[g])[:k] for g in n],
                "n_part": [n[g] for g in n],
            })

    part = hashed.mapInPandas(local_bottomk, part_schema)
    merged = (part.groupBy(group_col)
              .agg(F.slice(F.array_sort(F.flatten(F.collect_list("part"))),
                           1, k).alias("sample"),
                   F.slice(F.array_sort(F.array_distinct(
                       F.flatten(F.collect_list("kmin")))), 1, k)
                   .alias("kmin"),
                   F.sum("n_part").cast("long").alias("n_events")))
    vals = F.array_sort(F.transform(F.col("sample"), lambda x: x["v"]))
    n_s = F.size(F.col("sample"))

    def q_at(p: float) -> Column:
        idx = F.greatest(F.lit(1), F.ceil(F.lit(p) * n_s)).cast("int")
        return F.element_at(vals, idx)

    m = F.size(F.col("kmin"))
    est = F.when(m < k, m.cast("double")).otherwise(
        _ratio6(F.lit((k - 1) * 4294967296), F.element_at(F.col("kmin"), k)))
    return merged.select(
        F.col(group_col), F.col("n_events"), n_s.alias("n_sample"),
        q_at(0.5).alias("p50"), q_at(0.9).alias("p90"),
        q_at(0.99).alias("p99"), est.alias("ndv_users"))
