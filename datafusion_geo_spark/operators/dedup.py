"""Deduplication operators for LLM training-data pipelines.

Exact (hash group-by), MinHash+LSH, SimHash, and n-gram Jaccard — all
pure Spark built-ins (no Python UDFs): shingling via higher-order array
functions, signatures via hash-min aggregation, candidate generation via
band-key equi-joins. At 100 TB each stage is a shuffle on a well-chosen
key (band key / hash prefix), never an all-pairs product.

The shared word-hash is ``bigint(md5(s)[0:8])`` so the DuckDB oracle can
reproduce every signature bit-for-bit (see __spark_entry__.oracle_sql).
"""

from __future__ import annotations

import logging
from typing import List, Optional, Sequence, Tuple

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from . import util
from .text import words_col
from .util import round6_binary

log = logging.getLogger(__name__)

# Default cap on LSH/SimHash bucket membership. A band key shared by N
# docs yields N(N-1)/2 candidate pairs in ONE shuffle partition; at web
# scale a boilerplate page (empty doc, cookie banner) is exactly such a
# key, and an uncapped bucket turns the equi-join quadratic. Dropping
# oversized buckets is the standard web-scale LSH practice: members of a
# monster bucket are near-dups of thousands of other docs and are caught
# by the OTHER bands/chunks (or an exact-hash pass) anyway.
DEFAULT_MAX_BUCKET = 1000


def _cap_buckets(banded: DataFrame, key_cols: Sequence[str],
                 max_bucket: Optional[int],
                 log_dropped: bool = False) -> DataFrame:
    """Drop rows belonging to over-populated candidate buckets.

    Hot keys are found with a partial+final count aggregate (map-side
    combined, so the shuffle carries one row per distinct key per map
    task, not per doc) and removed with a BROADCAST anti-join: at web
    scale the hot-key list is tiny (a handful of boilerplate pages) while
    ``banded`` is huge, so the big side streams with no extra shuffle and
    no sort — unlike a window count, which would shuffle AND sort every
    banded row. ``log_dropped`` additionally logs how much the cap
    removed (one extra count action on the tiny hot-key frame)."""
    if max_bucket is None:
        return banded
    keys = [F.col(c) for c in key_cols]
    hot = (banded.groupBy(*keys)
           .agg(F.count(F.lit(1)).alias("_bsz"))
           .where(F.col("_bsz") > max_bucket))
    if log_dropped:
        d = hot.agg(F.sum("_bsz").alias("rows"),
                    F.count(F.lit(1)).alias("buckets")).collect()[0]
        if d["buckets"]:
            log.warning(
                "LSH bucket cap %d dropped %d rows across %d hot buckets",
                max_bucket, d["rows"], d["buckets"])
    return banded.join(F.broadcast(hot.drop("_bsz")),
                       list(key_cols), "left_anti")

MINHASH_P = 1_000_000_007
NUM_HASHES = 16
LSH_BANDS = 4
LSH_ROWS = 4  # NUM_HASHES = LSH_BANDS * LSH_ROWS
# 64-bit signatures, 4×16-bit chunks: the chunk equi-join key space is
# 65 536 values per chunk, so candidate buckets stay selective as the
# corpus grows (round 1 used 16-bit signatures → 4-bit chunk keys → the
# join degenerated toward all-pairs: 157k "near" pairs from 1k docs).
SIMHASH_BITS = 64
SIMHASH_CHUNKS = 4


def hash_params(i: int) -> Tuple[int, int]:
    """Deterministic affine minhash params h_i(x) = (a_i*x + b_i) mod P."""
    return 2 * i + 1, 7 * i + 3


def h64(c: Column) -> Column:
    """Shared 32-bit-range hash: first 8 hex chars of md5 as bigint —
    identical to DuckDB's ('0x' || substr(md5(s),1,8))::BIGINT."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def h32_hi(c: Column) -> Column:
    """Second 32-bit word hash (md5 hex chars 9..16) — together with
    ``h64`` it gives 64 independent hash bits without building a single
    64-bit value (which would overflow a signed cast in both engines)."""
    return F.conv(F.substring(F.md5(c), 9, 8), 16, 10).cast("long")


def word_shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string>; empty array when the
    document has fewer than n words.

    The slice-fold construction (measured 0.55s per 516k shingles at
    sf0.1 vs 2.7s for per-index slice+concat_ws and 7.5s for per-index
    element_at) lives in text.ngram_array — ONE definition shared with
    the repetition family."""
    from .text import ngram_array, words_col
    return ngram_array(words_col(text), n)


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content hash: one row per distinct text
    with the canonical (min) id and the copy count."""
    return (df
            .groupBy(F.md5(F.col(text_col)).alias("text_md5"))
            .agg(F.min(id_col).alias("canonical_id"),
                 F.count("*").alias("n_copies")))


def minhash_signature(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      num_hashes: int = NUM_HASHES,
                      shingle_n: int = 3) -> DataFrame:
    """MinHash signatures: explode shingles → shared hash → per-doc min
    under ``num_hashes`` affine permutations. Map-side partial min makes
    the shuffle carry only (doc_id, num_hashes longs).

    r11 note: a map-only form (array_min over transform'd shingle-hash
    arrays, zero shuffle) was tried and MEASURED SLOWER (sig 1.38 s →
    1.7 s at sf0.1): higher-order array functions evaluate interpreted
    per element, while the explode+groupBy pipeline runs entirely in
    WholeStageCodegen — the exchange it saves carries only
    (doc_id, 16 longs) and is not the cost. Kept the codegen shape."""
    sh = df.select(F.col(id_col),
                   F.explode(word_shingles(F.col(text_col), shingle_n)).alias("s"))
    h = sh.select(id_col, h64(F.col("s")).alias("h"))
    aggs = []
    for i in range(num_hashes):
        a, b = hash_params(i)
        aggs.append(F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_P)
                    .alias(f"mh{i}"))
    return h.groupBy(id_col).agg(*aggs)


def lsh_pairs(sig: DataFrame, id_col: str = "doc_id",
              bands: int = LSH_BANDS, rows: int = LSH_ROWS,
              min_sim: float = 0.5,
              num_hashes: int = NUM_HASHES,
              max_bucket: Optional[int] = DEFAULT_MAX_BUCKET,
              log_dropped: bool = False) -> DataFrame:
    """LSH candidate pairs + estimated Jaccard.

    Candidates = pairs agreeing on at least one band (equi-join on the
    band key; no cross product anywhere). est_sim = fraction of equal
    signature components; filtered at ``min_sim``.

    Scale notes (r11 shape, guide §2.3/§2.4): the banded relation
    CARRIES the signature columns, so est_sim is computed inline on
    the joined pair — the two est_sim join-backs of the r10 shape (and
    their exchanges) are gone, and the pair dedup is one distinct over
    (id_a, id_b, est_sim), which is exactly (id_a, id_b) since est_sim
    is functionally dependent on the pair. The banded frame is eagerly
    localCheckpoint-ed — it is read by the hot-bucket aggregation plus
    both sides of the band join of the returned lazy plan, so its
    blocks live as long as that plan (see util.cache_scope); signatures
    are computed ONCE into it (with the map-only minhash_signature the
    upstream is a pure projection, but the md5 shingle hashing is
    still worth not re-running 3x). Band keys come from ONE explode of
    a literal (band, bkey) struct array rather than a ``bands``-way
    union. Buckets larger than ``max_bucket`` are dropped (see
    _cap_buckets) so one hot band key cannot make a single task
    quadratic."""
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("_", *[F.col(f"mh{b * rows + r}")
                               for r in range(rows)]).alias("bkey"))
        for b in range(bands)])
    banded = (sig.select(F.col(id_col), F.explode(band_structs).alias("bb"),
                         *[F.col(f"mh{i}") for i in range(num_hashes)])
              .select(id_col, F.col("bb.band").alias("band"),
                      F.col("bb.bkey").alias("bkey"),
                      *[F.col(f"mh{i}") for i in range(num_hashes)])
              .localCheckpoint(eager=True))
    banded = _cap_buckets(banded, ("band", "bkey"), max_bucket, log_dropped)
    left = banded.select(
        "band", "bkey", F.col(id_col).alias("id_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(num_hashes)])
    right = banded.select(
        "band", "bkey", F.col(id_col).alias("id_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(num_hashes)])
    est = None
    for i in range(num_hashes):
        term = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        est = term if est is None else est + term
    return (left.join(right, ["band", "bkey"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    round6_binary(est.cast("double") / num_hashes)
                    .alias("est_sim"))
            .where(F.col("est_sim") >= min_sim)
            .distinct())


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash over word hashes: bit j of the signature is the sign of
    Σ_words (±1 depending on bit j of hash(word)). One explode + one
    grouped aggregation with ``bits`` conditional sums — map-side combine
    keeps the shuffle at (doc_id, bits ints).

    Bits 0..31 come from md5 hex chars 1..8, bits 32..63 from chars 9..16
    (two 32-bit halves: a single 64-bit value would overflow the signed
    cast). Signature bit 63 is packed as the int64 sign bit (two's
    complement: adding −2^63 last never overflows ANSI arithmetic, since
    the partial sum of bits 0..62 is at most 2^63−1)."""
    wdf = df.select(F.col(id_col),
                    F.explode(words_col(F.col(text_col))).alias("w"))
    h = wdf.select(id_col, h64(F.col("w")).alias("hlo"),
                   h32_hi(F.col("w")).alias("hhi"))

    def bit(j: int) -> Column:
        src, k = ("hlo", j) if j < 32 else ("hhi", j - 32)
        return F.shiftright(F.col(src), k).bitwiseAND(F.lit(1))

    sums = [F.sum(F.when(bit(j) == 1, 1).otherwise(-1)).alias(f"s{j}")
            for j in range(bits)]
    agg = h.groupBy(id_col).agg(*sums)
    sig = None
    for j in range(bits):
        weight = F.lit(-(1 << 63)) if j == 63 else F.lit(1 << j)
        term = F.when(F.col(f"s{j}") > 0, weight).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return agg.select(F.col(id_col), sig.cast("long").alias("simhash"))


def simhash_near_pairs(sig: DataFrame, id_col: str = "doc_id",
                       max_hamming: int = 3,
                       bits: int = SIMHASH_BITS,
                       chunks: int = SIMHASH_CHUNKS,
                       max_bucket: Optional[int] = DEFAULT_MAX_BUCKET,
                       log_dropped: bool = False) -> DataFrame:
    """Near-dup pairs with Hamming distance ≤ ``max_hamming``.

    Scale path: band the signature into ``chunks`` bit-chunks; by
    pigeonhole any pair within distance < chunks shares ≥1 chunk, so an
    equi-join per chunk finds all such pairs without a cross product.
    Requires max_hamming < chunks for completeness. Chunk buckets larger
    than ``max_bucket`` are dropped (see _cap_buckets)."""
    assert max_hamming < chunks, "pigeonhole completeness needs hamming < chunks"
    cbits = bits // chunks
    mask = (1 << cbits) - 1
    # checkpointed: both sides of the chunk self-join in the returned
    # lazy plan scan ``sig`` (see util.cache_scope)
    sig = sig.localCheckpoint(eager=True)
    chunk_structs = F.array(*[
        F.struct(
            F.lit(c).alias("chunk"),
            F.shiftright(F.col("simhash"), c * cbits)
            .bitwiseAND(F.lit(mask)).alias("ckey"))
        for c in range(chunks)])
    banded = (sig.select(F.col(id_col), F.col("simhash"),
                         F.explode(chunk_structs).alias("cc"))
              .select(id_col, "simhash", F.col("cc.chunk").alias("chunk"),
                      F.col("cc.ckey").alias("ckey")))
    banded = _cap_buckets(banded, ("chunk", "ckey"), max_bucket, log_dropped)
    l, r = banded.alias("l"), banded.alias("r")
    pairs = (l.join(r, ["chunk", "ckey"])
             .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
             .select(F.col(f"l.{id_col}").alias("id_a"),
                     F.col(f"r.{id_col}").alias("id_b"),
                     F.bit_count(F.col("l.simhash").bitwiseXOR(
                         F.col("r.simhash"))).cast("int").alias("hamming"))
             .where(F.col("hamming") <= max_hamming)
             .distinct())
    return pairs


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", shingle_n: int = 3,
                        min_jaccard: float = 0.4,
                        max_shingle_df: Optional[int] = DEFAULT_MAX_BUCKET,
                        log_dropped: bool = False) -> DataFrame:
    """Exact n-gram Jaccard similarity via distinct-shingle equi-join:
    |A∩B| from a self-join on shingle, |A∪B| = |A|+|B|−|A∩B|. Shuffles on
    the shingle hash — no cross product; candidate pairs are only those
    sharing ≥1 shingle.

    Shingles whose document frequency exceeds ``max_shingle_df`` are
    dropped before the self-join (same broadcast anti-join as the
    LSH/SimHash bucket caps — see _cap_buckets): one boilerplate shingle
    shared by N docs would otherwise land N(N−1)/2 candidate rows in a
    single shuffle partition. Sizes are computed AFTER the cap, so the
    returned value is the exact Jaccard over the retained (non-
    boilerplate) shingle vocabulary — the standard stopword-style
    treatment. Pass ``max_shingle_df=None`` for the uncapped exact
    Jaccard on a bounded corpus."""
    sh = df.select(F.col(id_col),
                   F.explode(word_shingles(F.col(text_col), shingle_n)).alias("s")) \
           .distinct()
    # checkpointed: sizes (scanned twice) and both join sides of the
    # returned lazy plan read ``sh`` (see util.cache_scope)
    sh = _cap_buckets(sh, ("s",), max_shingle_df,
                      log_dropped).localCheckpoint(eager=True)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("nsh"))
    l = sh.select(F.col(id_col).alias("id_a"), "s")
    r = sh.select(F.col(id_col).alias("id_b"), "s")
    inter = (l.join(r, "s").where(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b").agg(F.count("*").alias("ninter")))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("nsh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("nsh").alias("nb"))
    return (inter.join(sa, "id_a").join(sb, "id_b")
            .select("id_a", "id_b",
                    round6_binary(F.col("ninter").cast("double") /
                            (F.col("na") + F.col("nb") - F.col("ninter")))
                    .alias("jaccard"))
            .where(F.col("jaccard") >= min_jaccard))


def _driver_components(pdf):
    """Exact min-reachable-id components of a (src, dst) edge table
    via driver-side union-find with path compression — callable only
    through :func:`connected_components`'s bounded-size gate. Output is
    identical to the distributed loop's unique fixpoint: one row per
    vertex appearing in the edges, component = min id reachable from
    it (union-find components are the same equivalence classes, and
    the representative is re-mapped to the class minimum)."""
    import pandas as pd
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    for v in parent:
        r = find(v)
        m = comp_min.get(r)
        if m is None or v < m:
            comp_min[r] = v
    return pd.DataFrame({"doc_id": list(parent),
                         "component": [comp_min[find(v)] for v in parent]})


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iter: int = 25,
                         symmetric: bool = False) -> DataFrame:
    """Connected components over a near-duplicate pair graph — the step
    that turns pairwise matches into DEDUP GROUPS (keep one doc per
    component). Returns (doc_id, component) where component = the min
    doc id reachable from doc_id; every vertex appearing in ``pairs``
    gets a row.

    Algorithm: distributed min-label propagation with POINTER EDGES
    (r11 shape, guide §2.4 "remove shuffles outright"): the round
    operator is

        label'(v) = min( min over edge nbrs u of label(u),
                         label(label(v)) )

    computed as ONE union-of-two-joins + ONE min-aggregate. The edge
    relation is shuffled by src ONCE up front (``repartition("src")``
    + persist) and every round's edges⋈labels join reuses that cached
    partitioning — only the |V|-sized label frame moves per round, the
    |E|-sized relation never re-shuffles (the GraphX discipline). The
    pointer term label(label(v)) rides a second, |V|-sized labels
    self-join whose row also carries the PREVIOUS label, so
    convergence is an ``observe`` metric on the same aggregate —
    zero extra jobs per round. label(label(v)) ≤ label(v) always
    (labels only decrease and label(u) ≤ u), so the aggregate needs no
    own-label fallback, and every vertex gets a row through its
    pointer edge. Fixpoint: labels constant across every (symmetric)
    edge ⇒ constant per component ⇒ the min reachable id — the same
    unique fixpoint as any min-propagation, so the r10
    two-join-per-round variant returns the identical frame (pinned by
    tests). Measured 5.3 s vs 6.9 s per dbscan_clusters run at sf0.1;
    rounds needed = O(log diameter) via the pointer shortcut.
    ``max_iter`` bounds pathological chains and raises rather than
    returning a half-merged labeling."""
    from pyspark.sql import Observation
    from pyspark.sql.types import StructField, StructType
    spark = pairs.sparkSession
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # ``symmetric=True`` promises the input already contains both
    # directions of every edge (the eps-neighbor relation does) —
    # skipping the symmetrizing union halves the cached edge volume
    if not symmetric:
        e = e.unionAll(e.select(F.col("dst").alias("src"),
                                F.col("src").alias("dst")))
    with util.cache_scope() as scope:
        e0, n_edges = scope.cache(e)
        # r12, bounded driver finish (the mlfit/isotonic "bounded driver
        # solve" pattern, with an explicit cap instead of a by-construction
        # bound): when the deduplicated edge relation fits comfortably on
        # the driver (<= 2M narrow rows ~ tens of MB, far under
        # spark.driver.maxResultSize), a path-compressed union-find
        # computes the identical min-reachable-id labeling in one pass —
        # where the distributed loop pays O(log d) rounds of per-round
        # plan/codegen + checkpoint + convergence-metric latency (~0.6 s a
        # round at ANY partition count; measured 8 rounds = 4.8 s on the
        # dbscan core graph vs 0.3 s driver-side). Larger graphs take the
        # distributed loop below unchanged — the cap is what keeps the
        # driver out of unbounded data work (guide §5).
        if 0 < n_edges <= util.DRIVER_MAX_EDGES:
            vtype = e0.schema["src"].dataType
            schema = StructType([StructField("doc_id", vtype),
                                 StructField("component", vtype)])
            return util.driver_finish(e0, _driver_components, schema)
        # r12, |E|-derived loop partitioning (guide §2 "scale-adaptive, not
        # a constant"): every round of the loop moves |V|-or-|E|-sized
        # narrow frames through several exchanges, and each exchange pays
        # per-partition scheduling/commit overhead whether or not the
        # partition holds rows — at the session's core-count default a
        # 2k-vertex graph ran 8 rounds x 32-partition exchanges of mostly
        # empty partitions (~0.6 s/round of pure overhead). Staging the
        # edge relation once (the cache below materializes it anyway),
        # counting it, and running the WHOLE loop at ceil(|E|/500k)
        # partitions (clamped to defaultParallelism) sizes every per-round
        # exchange to the data; a bigger graph gets more partitions by the
        # same rule. The conf is scoped and restored — partition count
        # never changes results.
        dp = spark.sparkContext.defaultParallelism
        n_parts = max(1, min(dp, (n_edges + 499_999) // 500_000))
        old_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
        try:
            edges, _ = scope.cache(e0.repartition(n_parts, "src"))
            scope.release(e0)
            # localCheckpoint (not just persist) each round: an iterative
            # join grows the LOGICAL plan exponentially — by ~round 25 the
            # nested plan alone OOMs the driver during codegen. Checkpointing
            # truncates lineage so every round starts from a flat scan.
            # (On a cluster with lossy executors, point
            # spark.sparkContext.setCheckpointDir at durable storage and use
            # .checkpoint() instead.)
            labels = (edges.select(F.col("src").alias("v"))
                      .distinct()
                      .withColumn("label", F.col("v"))
                      .localCheckpoint(eager=True))
            if labels.count() == 0:
                # empty graph: nothing to label (and a zero-task action
                # would never deliver the observe metric below)
                return labels.select(F.col("v").alias("doc_id"),
                                     F.col("label").alias("component"))
            vtype = labels.schema["label"].dataType
            for _round in range(max_iter):
                lab_src = labels.select(F.col("v").alias("src"),
                                        F.col("label").alias("_lsrc"))
                # neighbor minimum: cached src-partitioned edges, zero
                # edge-side exchange
                j1 = (edges.join(lab_src, "src")
                      .select(F.col("dst"), F.col("_lsrc"),
                              F.lit(None).cast(vtype).alias("_prev")))
                # pointer edge label(v) -> v: contributes label(label(v))
                # and carries v's previous label for the convergence metric
                # (exactly one row per vertex — label(v) is itself a vertex).
                # r12 MEASURED AND REJECTED (guide §1.1): a deeper
                # label(label(label(v))) chain (one more |V| join per round,
                # zero subtree recompute — labels is a checkpointed scan)
                # did NOT cut rounds on the dbscan lattice (8 rounds either
                # way; per-round chg decays ~x0.55 because the min ids
                # spread through the edge graph, not down pointer trees), so
                # the extra join is pure cost. The per-round overhead fix is
                # the |E|-derived loop partitioning below instead.
                lft, rgt = labels.alias("l"), labels.alias("r")
                j2 = (lft.join(rgt, F.col("l.label") == F.col("r.v"))
                      .select(F.col("l.v").alias("dst"),
                              F.col("r.label").alias("_lsrc"),
                              F.col("l.label").alias("_prev")))
                obs = Observation()
                new_labels = (j1.unionAll(j2)
                              .groupBy(F.col("dst").alias("v"))
                              .agg(F.min("_lsrc").alias("label"),
                                   F.max("_prev").alias("_prev"))
                              .observe(obs, F.sum(
                                  F.when(F.col("label") != F.col("_prev"), 1)
                                  .otherwise(0)).alias("chg"))
                              # eager=True explicitly: obs.get below blocks
                              # until an action delivers the metric — THIS
                              # checkpoint is that action (ADVICE r11)
                              ).localCheckpoint(eager=True)
                changed = obs.get["chg"] or 0
                labels = new_labels.drop("_prev")
                if changed == 0:
                    return labels.select(F.col("v").alias("doc_id"),
                                         F.col("label").alias("component"))
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds "
                f"— pathological chain graph; raise max_iter")
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)


def chunk_documents(df: DataFrame, chunk_tokens: int = 64,
                    overlap: int = 16, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    context-window preparation step of a training pipeline. Chunk i
    covers words [i·stride, i·stride + chunk_tokens) with
    stride = chunk_tokens − overlap; the final partial window is kept
    iff it starts inside the document and adds new tokens. Pure
    higher-order array functions: the explode happens AFTER slicing, so
    each output row carries only its own chunk text (no full-document
    duplication through the shuffle), and rows stay co-partitioned with
    their source document (narrow transformation, zero shuffle)."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(f"need 0 <= overlap < chunk_tokens, got "
                         f"{overlap} / {chunk_tokens}")
    stride = chunk_tokens - overlap
    w = words_col(F.col(text_col))
    n = F.size(w)
    # number of chunks: ceil(max(n - overlap, 1) / stride), via longs
    n_chunks = F.greatest(
        F.lit(1).cast("long"),
        ((n - F.lit(overlap) + F.lit(stride) - 1) / F.lit(stride))
        .cast("long"))
    chunks = F.transform(
        F.sequence(F.lit(0).cast("long"), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            F.array_join(F.slice(w, (i * stride + 1).cast("int"),
                                 chunk_tokens), " ").alias("chunk_text"),
            F.least(n.cast("long") - i * stride,
                    F.lit(chunk_tokens).cast("long"))
            .cast("int").alias("n_tokens")))
    return (df.select(F.col(id_col), F.explode(chunks).alias("_c"))
            .select(id_col, "_c.chunk_idx", "_c.chunk_text", "_c.n_tokens"))


def passage_dedup_stats(df: DataFrame, window: int = 100, stride: int = 50,
                        max_dup_ratio: float = 0.5, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Exact-substring duplication audit (the passage-level dedup of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better" — public paper; character windows stand in for their
    token-suffix-array machinery, which needs a tokenizer): slide a
    ``window``-char window with ``stride`` over each doc, hash every
    window, and flag windows whose hash occurs more than once ANYWHERE
    in the corpus (cross-doc duplication and exact within-doc repeats).
    Docs shorter than ``window`` contribute zero windows and report a
    zero ratio.

    Returns (id_col, n_windows, n_dup_windows, dup_ratio, keep) with
    ``keep = dup_ratio <= max_dup_ratio``; ratios use the exact
    scaled-integer rounding shared with operators.text.

    Scale design (100 TB): window generation is a map-side
    sequence+transform then ONE explode (~len/stride rows per doc,
    narrow (id, 32-char hash) columns — the passage text itself never
    crosses a shuffle); global occurrence counts are a map-side-combined
    hash aggregate; the flag comes back via a shuffle join on the hash
    whose hot side is LINEAR per key (one row per occurrence, never
    pairs) — exactly the shape AQE skew-join splits, unlike the
    quadratic bucket blowups the pair-generating family caps with
    _cap_buckets. Per-doc rollup is one more map-side-combined agg."""
    t = F.col(text_col)
    n_pos = F.length(t) - F.lit(window - 1)
    positions = F.when(
        n_pos >= 1, F.sequence(F.lit(1), n_pos, F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    wins = df.select(
        F.col(id_col),
        F.explode_outer(F.transform(
            positions, lambda p: F.md5(F.substring(t, p, window))))
        .alias("whash"))
    hcount = wins.where(F.col("whash").isNotNull()) \
                 .groupBy("whash").agg(F.count("*").alias("n_occ"))
    flagged = wins.join(hcount, "whash", "left")
    n_windows = F.sum((F.col("whash").isNotNull()).cast("long"))
    # a zero-window doc's group is all-NULL -> SUM yields NULL, not 0
    n_dup = F.coalesce(F.sum((F.col("n_occ") > 1).cast("long")), F.lit(0))
    from datafusion_geo_spark.operators.text import _ratio6
    per = (flagged.groupBy(id_col)
           .agg(n_windows.alias("n_windows"), n_dup.alias("n_dup")))
    ratio = F.when(F.col("n_windows") > 0,
                   _ratio6(F.col("n_dup"), F.col("n_windows"))) \
             .otherwise(F.lit(0.0))
    return per.select(
        F.col(id_col),
        F.col("n_windows").cast("int").alias("n_windows"),
        F.col("n_dup").cast("int").alias("n_dup_windows"),
        ratio.alias("dup_ratio"),
        (ratio <= F.lit(max_dup_ratio)).alias("keep"))


def keep_canonical(corpus: DataFrame, components: DataFrame,
                   id_col: str = "doc_id") -> DataFrame:
    """The KEEP-ONE step that materializes a deduplicated corpus from
    near-dup components: every corpus row gets (id_col, component,
    is_kept) where the kept document of each component is its canonical
    (minimum-id) member — which IS the component label from
    :func:`connected_components` — and documents in no component are
    trivially kept.

    Scale shape: one broadcast-or-shuffle left equi-join on the id (the
    components side holds only docs that HAVE a near-dup, typically a
    small fraction of the corpus) — this is the join a production
    pipeline runs to write the cleaned corpus."""
    comp = components.select(F.col(id_col), F.col("component"))
    return (corpus.select(id_col).join(comp, id_col, "left")
            .select(F.col(id_col), F.col("component"),
                    (F.col("component").isNull()
                     | (F.col("component") == F.col(id_col)))
                    .alias("is_kept")))


def with_perturbed_copies(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          offset: int = 1_000_000) -> DataFrame:
    """Deterministic near-duplicate corpus builder: each document gets a
    copy (id + offset) with its first word dropped — used by the
    correctness queries so dedup operators have true near-dups to find."""
    copy = df.select(
        (F.col(id_col) + offset).alias(id_col),
        F.expr(f"substring({text_col}, instr({text_col}, ' ') + 1)").alias(text_col))
    return df.select(id_col, text_col).unionAll(copy)


def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  shingle_n: int = 3, min_hits: int = 2,
                  max_shingle_df: Optional[int] = DEFAULT_MAX_BUCKET,
                  log_dropped: bool = False) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing at least
    ``min_hits`` distinct word n-grams with ANY benchmark document — the
    n-gram-overlap check (GPT-3/PaLM style) a pretraining pipeline runs
    so eval sets don't leak into training data.

    Returns one row per contaminated (corpus_id, benchmark_id) pair with
    the shared-shingle count; anti-join the distinct corpus_ids against
    the corpus to drop them.

    Scale shape: both sides explode to distinct (id, shingle), join on
    the shingle hash — an equi-join, never corpus × benchmark. Corpus
    shingles above ``max_shingle_df`` document frequency are dropped
    first (same broadcast anti-join as the dedup family's bucket caps —
    boilerplate n-grams would otherwise pair with every benchmark doc
    containing them); benchmark sets are curated and small, so their
    side is left uncapped. The benchmark shingle frame is usually small
    enough that AQE picks a broadcast join on its own."""
    def shingled(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.explode(word_shingles(F.col(text_col), shingle_n)).alias("s")
        ).distinct()

    c = shingled(corpus, "corpus_id")
    c = _cap_buckets(c, ("s",), max_shingle_df, log_dropped)
    b = shingled(benchmark, "bench_id")
    return (c.join(b, "s")
            .groupBy("corpus_id", "bench_id")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .where(F.col("n_shared") >= min_hits))


def incremental_exact_dedup(new_batch: DataFrame, seen: DataFrame,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Snapshot-incremental exact dedup: keep the rows of ``new_batch``
    whose content hash appears neither in the ``seen`` corpus nor
    earlier in the batch itself (min-id-wins within the batch, the same
    canonical rule as exact_dedup). The ``seen`` side travels as
    hashes only — at 100 TB the accumulated-corpus state is a compact
    hash table, and the anti-join shuffles just (hash, id), never the
    text. This is the shape of every production dedup pipeline:
    re-deduping the full corpus per ingest is O(corpus), the
    incremental anti-join is O(batch)."""
    nb = new_batch.withColumn("_h", h64(F.col(text_col)))
    seen_h = seen.select(h64(F.col(text_col)).alias("_h")).distinct()
    fresh = nb.join(seen_h, "_h", "left_anti")
    from pyspark.sql import Window
    w = Window.partitionBy("_h").orderBy(F.col(id_col).asc())
    return (fresh.withColumn("_rn", F.row_number().over(w))
                 .where(F.col("_rn") == 1)
                 .drop("_rn", "_h"))


def corpus_diff(old: DataFrame, new: DataFrame,
                text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Snapshot diff between two corpus versions: one row per doc_id
    with status 'added' / 'removed' / 'changed' / 'unchanged' — the
    audit a dataset-versioning pipeline publishes before promoting a
    new training snapshot (how much churn did this crawl introduce?).

    Scale shape: both sides collapse to (id, content hash) first —
    the full-outer join then shuffles two narrow hash columns on the
    id, never the text; co-located/bucketed snapshots join with no
    shuffle at all. Content equality is the repo-wide md5-prefix hash
    (h64), so the oracle replays the status column exactly."""
    oh = old.select(F.col(id_col), h64(F.col(text_col)).alias("_ho"))
    nh = new.select(F.col(id_col), h64(F.col(text_col)).alias("_hn"))
    j = oh.join(nh, id_col, "full_outer")
    status = (F.when(F.col("_ho").isNull(), F.lit("added"))
              .when(F.col("_hn").isNull(), F.lit("removed"))
              .when(F.col("_ho") == F.col("_hn"), F.lit("unchanged"))
              .otherwise(F.lit("changed")))
    return j.select(F.col(id_col), status.alias("status"))


def minhash_eval(corpus: DataFrame, threshold: float = 0.5,
                 text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Quality evaluation of the MinHash-LSH detector against exact
    n-gram Jaccard ground truth at the same similarity threshold — the
    text-dedup twin of similarity.ann_recall's in-engine recall eval.
    Returns ONE row: truth/predicted/true-positive pair counts plus
    precision and recall (6-dp binary rounded).

    Scale shape: both pair generators are the existing bucketed joins;
    the metric combination is three one-row aggregates crossed back
    together (bounded broadcast, the tfidf/bm25 pattern). Run it on a
    SAMPLE at 100 TB — exact Jaccard ground truth is a research-grade
    measurement, not a production pass."""
    truth = ngram_jaccard_pairs(corpus, text_col=text_col, id_col=id_col,
                                min_jaccard=threshold,
                                max_shingle_df=None) \
        .select("id_a", "id_b")
    pred = lsh_pairs(minhash_signature(corpus, text_col=text_col,
                                       id_col=id_col),
                     id_col=id_col, min_sim=threshold,
                     max_bucket=None).select("id_a", "id_b")
    tp = pred.join(truth, ["id_a", "id_b"], "inner")
    n_t = truth.agg(F.count("*").alias("n_truth"))
    n_p = pred.agg(F.count("*").alias("n_pred"))
    n_tp = tp.agg(F.count("*").alias("n_tp"))
    return (n_t.crossJoin(n_p).crossJoin(n_tp)
            .select("n_truth", "n_pred", "n_tp",
                    round6_binary(F.col("n_tp").cast("double")
                                  / F.greatest(F.col("n_pred"), F.lit(1)))
                    .alias("precision"),
                    round6_binary(F.col("n_tp").cast("double")
                                  / F.greatest(F.col("n_truth"), F.lit(1)))
                    .alias("recall")))


def dup_span_stats(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", n: int = 8) -> DataFrame:
    """Duplicate-span audit, the word-level form of exact-substring dedup
    (Lee et al. 2022): mark every word n-gram occurrence whose n-gram
    appears anywhere else (any doc, or again in the same doc), merge
    each doc's marked [pos, pos+n) windows into maximal spans with a
    gaps-and-islands window, and report per doc how many words sit
    inside duplicated spans. ``keep`` applies the usual <50%-duplicated
    retention rule — all in exact integer arithmetic.

    Scale shape (r12): occurrence marking is ONE count-over-window
    partitioned by the exact gram — the corpus moves through a single
    exchange, where the r11 md5-group-then-join-back shape computed the
    exploded relation twice and exchanged it twice (and a hash key is
    avoidable risk: 64-bit keys collide from ~10^10 grams). The islands
    window stays PARTITIONED BY doc_id — millions of independent keys,
    so sort parallelism grows with the corpus. No all-pairs stage
    anywhere: the classic suffix-array pass is re-expressed as windowed
    grouping, which is the form that survives 100 TB."""
    with util.cache_scope() as scope:
        # per-doc rows only
        return (_dup_span_stats_lazy(scope, df, text_col, id_col, n)
                .localCheckpoint(eager=True))


def _dup_span_stats_lazy(scope, df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", n: int = 8) -> DataFrame:
    """Lazy per-doc stats frame over a corpus cache held in ``scope``
    (see :func:`dup_span_stats`, the public wrapper that materializes
    it). Split out so the physical plan of the real pipeline stays
    inspectable behind the wrapper's checkpoint
    (tests/test_scale_plans.py)."""
    from pyspark.sql import Window

    from .text import ngram_array

    w = df.select(F.col(id_col).alias("doc_id"),
                  words_col(F.col(text_col)).alias("w"))
    # cached: consumed twice (the occurrence pass + the final per-doc
    # join) — re-tokenizing the corpus per consumer otherwise
    base, _ = scope.cache(w.select("doc_id",
                                   F.size("w").cast("long").alias("n_words"),
                                   ngram_array(F.col("w"), n).alias("gs")))
    grams = base.select("doc_id", F.posexplode("gs").alias("pos", "g"))
    # r12: corpus-wide occurrence marking as ONE window over the exact
    # gram (count > 1 over partition g) instead of md5-hash -> grouped
    # count -> equi-join back. The old shape computed the exploded+
    # hashed relation TWICE (once under the aggregate, once as the join
    # probe side) and moved it through two exchanges; the window moves
    # it once and never hashes (grouping on the gram itself is exact at
    # ANY corpus size, where a 64-bit hash would collide at ~10^10
    # grams — and md5 cost dominated the old scan). Same marked set:
    # count-over-partition > 1 == join against the >1-occurrence keys.
    wocc = Window.partitionBy("g")
    dup = (grams.withColumn("_nocc", F.count(F.lit(1)).over(wocc))
           .where(F.col("_nocc") > 1).select("doc_id", "pos"))
    win = (Window.partitionBy("doc_id").orderBy("pos")
           .rowsBetween(Window.unboundedPreceding, -1))
    spans = (dup
             .withColumn("prev_end",
                         F.coalesce(F.max(F.col("pos") + F.lit(n - 1))
                                    .over(win), F.lit(-1)))
             .withColumn("contrib",
                         F.greatest(F.lit(0),
                                    F.col("pos") + F.lit(n - 1)
                                    - F.greatest(F.col("pos") - 1,
                                                 F.col("prev_end"))))
             .withColumn("new_span",
                         (F.col("pos") > F.col("prev_end")).cast("long")))
    per = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_ngrams"),
        F.sum("new_span").alias("n_spans"),
        F.sum("contrib").alias("dup_words"))
    out = (base.select("doc_id", "n_words",
                       F.size("gs").cast("long").alias("n_ngrams"))
           .join(per, "doc_id", "left")
           .select(F.col("doc_id").alias(id_col), "n_words", "n_ngrams",
                   F.coalesce("n_dup_ngrams", F.lit(0)).cast("long")
                   .alias("n_dup_ngrams"),
                   F.coalesce("n_spans", F.lit(0)).cast("long")
                   .alias("n_spans"),
                   F.coalesce("dup_words", F.lit(0)).cast("long")
                   .alias("dup_words"))
           .withColumn("keep",
                       F.col("dup_words") * F.lit(2) <= F.col("n_words")))
    return out


def _jaccard_prefix_verified(scope, df: DataFrame, text_col: str,
                             id_col: str, threshold_num: int,
                             threshold_den: int, shingle_n: int,
                             max_token_df: Optional[int]) -> DataFrame:
    """Lazy verified-pair frame over caches held in ``scope`` (see
    :func:`jaccard_prefix_pairs`, the public wrapper that materializes
    it). Split out so the physical plan of the real pipeline stays
    inspectable behind the wrapper's checkpoint."""
    from pyspark.sql import Window
    from .util import idiv

    arr = F.array_distinct(word_shingles(F.col(text_col), shingle_n))
    # cached: consumed three times (token explode + both sides of the
    # verification join) — re-shingling the corpus per consumer costs
    # a full text pass each (size = one array row per doc)
    arrs, _ = scope.cache(df.select(F.col(id_col).alias("_id"),
                                    arr.alias("_arr"),
                                    F.size(arr).cast("long").alias("sz")))
    toks = arrs.select("_id", "sz", F.explode("_arr").alias("tok"))
    dft = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("dft"))
    if max_token_df is not None:
        dft = dft.where(F.col("dft") <= max_token_df)
    ranked = (toks.join(dft, "tok")
              .withColumn("r", F.row_number().over(
                  Window.partitionBy("_id").orderBy("dft", "tok"))))
    # prefix length = sz - ceil(t*sz) + 1, all int64
    need = idiv(F.col("sz") * F.lit(threshold_num)
                + F.lit(threshold_den - 1), F.lit(threshold_den))
    # cached: BOTH sides of the self-join below read this relation,
    # and Catalyst does not recognize the aliased subtrees as one
    # (r11's after-plan shows the dft join + window pipeline planned
    # TWICE, once per side — guide §2.4 "two operations keyed the same
    # way can share one exchange"); caching the ~|prefix| rows runs the
    # global-df + rank pipeline once
    prefix, _ = scope.cache(
        ranked.where(F.col("r") <= F.col("sz") - need + F.lit(1))
        .select("_id", "tok", "sz", "r"))
    # PPJoin positional filter (provably output-preserving): a shared
    # prefix token at positions (ra, rb) of the two docs' identically-
    # ordered token lists bounds the intersection by
    #   min(ra, rb) - 1   shared tokens strictly before it
    # + 1                 the token itself
    # + min(sa-ra, sb-rb) shared tokens strictly after it,
    # and J >= num/den forces |A∩B| >= alpha = ceil(num*(sa+sb) /
    # (num+den)); a pair every shared prefix token of which bounds
    # below alpha CANNOT pass verification, so dropping it here only
    # removes pairs the final threshold test rejects. (The capped
    # tokens all rank after every kept token — dft > cap is maximal in
    # the ASC order — so r IS the token's true position and the bound
    # stays valid with the stop-word guard on.)
    sa, sb = F.col("a.sz"), F.col("b.sz")
    ra, rb = F.col("a.r"), F.col("b.r")
    alpha = idiv(F.lit(threshold_num) * (sa + sb)
                 + F.lit(threshold_num + threshold_den - 1),
                 F.lit(threshold_num + threshold_den))
    ubound = (F.least(ra, rb)
              + F.least(sa - ra, sb - rb))
    # r12, accumulated-overlap positional filter (the set-based form of
    # PPJoin's running-overlap bound; provably output-preserving):
    # both docs' token lists are sorted by the SAME global (df, token)
    # order, so the shared tokens of a pair form a chain with strictly
    # increasing positions in both lists. Let t* be the greatest shared
    # PREFIX token, at positions (ra*, rb*). Any shared token globally
    # smaller than t* has positions below (ra*, rb*) <= (Pa, Pb), hence
    # lies in BOTH prefixes and is counted by o = the number of shared
    # prefix tokens; every other shared token (including the capped
    # ones, whose df > cap is maximal in the order) lies strictly after
    # ra* in a and rb* in b. Therefore |A∩B| <= o + min(sa-ra*, sb-rb*),
    # and a pair whose bound is below alpha CANNOT pass verification.
    # Measured at sf0.1: 1.21M -> 473k candidates (-61%) entering the
    # array-attach joins below.
    o = F.count(F.lit(1))
    tail = F.least(F.max(sa) - F.max(ra), F.max(sb) - F.max(rb))
    alpha_pair = idiv(
        F.lit(threshold_num) * (F.max(sa) + F.max(sb))
        + F.lit(threshold_num + threshold_den - 1),
        F.lit(threshold_num + threshold_den))
    cand = (prefix.alias("a").join(prefix.alias("b"), "tok")
            .where((F.col("a._id") < F.col("b._id"))
                   # size filter: J >= num/den needs the smaller set to
                   # be at least t of the larger — cheap, exact prune
                   & (F.least(sa, sb) * F.lit(threshold_den)
                      >= F.greatest(sa, sb) * F.lit(threshold_num)))
            .groupBy(F.col("a._id").alias("id_a"),
                     F.col("b._id").alias("id_b"))
            .agg(F.min(ubound - alpha).alias("_slack"),
                 (o + tail - alpha_pair).alias("_slack2"))
            .where((F.col("_slack") >= 0) & (F.col("_slack2") >= 0))
            .select("id_a", "id_b"))
    out = (cand
           .join(arrs.select(F.col("_id").alias("id_a"),
                             F.col("_arr").alias("_aa"),
                             F.col("sz").alias("size_a")), "id_a")
           .join(arrs.select(F.col("_id").alias("id_b"),
                             F.col("_arr").alias("_ab"),
                             F.col("sz").alias("size_b")), "id_b")
           .withColumn("inter",
                       F.size(F.array_intersect("_aa", "_ab"))
                       .cast("long"))
           .withColumn("union_sz",
                       F.col("size_a") + F.col("size_b") - F.col("inter")))
    verified = (out.where(F.col("inter") * F.lit(threshold_den)
                          >= F.lit(threshold_num) * F.col("union_sz"))
                .select("id_a", "id_b", "inter", "size_a", "size_b",
                        "union_sz"))
    return verified


def jaccard_prefix_pairs(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         threshold_num: int = 1, threshold_den: int = 2,
                         shingle_n: int = 3,
                         max_token_df: Optional[int] = DEFAULT_MAX_BUCKET
                         ) -> DataFrame:
    """Exact Jaccard similarity join with PPJoin-style prefix filtering
    (Xiao et al. 2011) — the third candidate-generation family next to
    LSH banding and plain shingle equi-joins. The set universe is the
    doc's distinct word ``shingle_n``-grams (selective even when the
    word vocabulary is shared); shingles are globally ordered by
    (document frequency, shingle); a doc of set size s only emits its
    s - ceil(t*s) + 1 RAREST shingles as join keys (any pair with
    J >= t = num/den must share one of them), so candidate volume is
    governed by rare-token selectivity instead of all shared tokens.
    Verification is exact: intersection of the two docs' distinct
    shingle ARRAYS (``array_intersect`` on the joined candidate row —
    set semantics, identical to counting shared tokens), threshold
    test in integer cross-multiplication.

    Scale shape: ONE shuffle on token builds the global-df-ranked
    prefix relation, which is persisted and read by both sides of the
    candidate self-join (r12 — the r11 plan built the dft-join +
    rank-window pipeline TWICE, once per aliased side), then two
    id-keyed joins attach the shingle arrays to the candidate pairs;
    tokens with df > ``max_token_df`` never enter the prefix (the
    stop-word guard — same hot-bucket rationale as _cap_buckets, and
    replayed verbatim by the oracle).

    r11 (guide §2.3 "aggregate before you shuffle" in reverse — stop
    re-exploding): verification used to be a (pair x token) equi-join —
    at sf0.1 that shuffled |cand| x ~52 tokens = 83M narrow rows twice
    and spent 8 s in the pair groupBy; attaching each side's shingle
    array once and intersecting in the JVM moves |cand| + 2x|docs| rows
    instead (16.1 s -> see OPTIMIZATION_r11.md). A size filter drops
    candidates that cannot reach the threshold (J >= t forces
    den*min(sz) >= num*max(sz)) before the array joins — provably
    output-preserving: it removes only pairs verification rejects.

    r12: the verified pair set (pair-count-sized) is materialized via
    localCheckpoint while both internal caches are held, so no cached
    relation outlives the call."""
    with util.cache_scope() as scope:
        return _jaccard_prefix_verified(
            scope, df, text_col, id_col, threshold_num, threshold_den,
            shingle_n, max_token_df).localCheckpoint(eager=True)
