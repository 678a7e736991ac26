"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exactness baseline, and a hyperplane-LSH
bucketed variant as the scale path. Dot products run JVM-side via
``zip_with`` + ``aggregate`` higher-order functions in double precision —
no Python UDFs — so the same arithmetic is reproducible in the DuckDB
oracle (list_cosine_similarity over DOUBLE[]).

Scale notes (100 TB): the brute-force path broadcasts the (small) query
set and streams the corpus — one scan, no shuffle. The LSH path buckets
both sides on a compact int key, turning top-k into a shuffle join on
bucket + per-bucket top-k; recall is traded for the usual LSH guarantees.
An IVF variant would follow the same plan shape with learned centroids.
"""

from __future__ import annotations

from typing import Optional

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from .util import memo_get, micro, round6, round6_binary


def as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def norm(v: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(v, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cos6(num: Column, den: Column) -> Column:
    """6-dp cosine ``num/den`` with the zero-denominator case pinned to
    -2.0 — strictly below any true cosine, so a zero-norm vector LOSES
    every ranking deterministically instead of producing NaN, which the
    ranking paths order inconsistently (Spark array_max ranks NaN
    greatest; array_sort on the negated key ranks it last; DuckDB's
    ORDER BY cs DESC ranks it first). Finite (-2.0, not -inf) so
    downstream micro-int scaling stays in int64. Fixtures never hit the
    guard (prenorm precondition), so oracle replays — which assume the
    precondition — are value-identical on every fixture row."""
    return F.when(den != 0, round6_binary(num / den)).otherwise(F.lit(-2.0))


def prenorm(df: DataFrame, id_col: str = "vec_id",
            vec_col: str = "embedding") -> DataFrame:
    """Normalize an embedding table to the prenormed contract
    ``(id_col, v: array<double>, n: double)`` — the cast + norm computed
    once, so a caller can persist/cache this frame and reuse it across
    many searches instead of re-deriving norms per query (the norm is a
    full O(dim) aggregate per row; at 100 TB you want it materialized
    with the corpus, not recomputed per probe batch).

    PRECONDITION: every vector should have nonzero norm — oracle
    replays assume it (every fixture and the synthesized >cap test
    corpus satisfy it by construction). The Spark-side ranking paths no
    longer depend on it: :func:`cos6` pins the zero-denominator cosine
    to -2.0, so a zero-norm row deterministically LOSES every ranking
    (assignment, probe lists, top-k) instead of producing NaN, whose
    ordering the paths disagreed on. Callers ingesting untrusted
    embeddings should still filter ``n > 0`` if they need oracle-exact
    parity on those rows."""
    return (df.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
            .withColumn("n", norm(F.col("v"))))


def cosine_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding",
                prenormed: bool = False) -> DataFrame:
    """Exact cosine top-k: broadcast the query set, evaluate cosine
    JVM-side, rank with a window partitioned by query id (ties broken by
    neighbor id). Self-matches excluded. Norms are materialized once per
    side before the pairing — cosine() inline would re-aggregate the
    corpus vector's norm for every one of the Q queries it meets.
    With ``prenormed=True`` both inputs already follow the
    :func:`prenorm` contract (id_col, v, n) — e.g. a persisted corpus —
    and the cast/norm stages are skipped entirely."""
    qsrc = queries if prenormed else prenorm(queries, id_col, vec_col)
    csrc = emb if prenormed else prenorm(emb, id_col, vec_col)
    q = F.broadcast(qsrc.select(F.col(id_col).alias("query_id"),
                                F.col("v").alias("qv"),
                                F.col("n").alias("qn")))
    c = csrc.select(F.col(id_col).alias("neighbor_id"),
                    F.col("v").alias("cv"), F.col("n").alias("cn"))
    scored = (c.crossJoin(q)
              .where(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id",
                      cos6(dot(F.col("qv"), F.col("cv")),
                           F.col("qn") * F.col("cn")).alias("sim")))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def hyperplane_bucket(vec: Column, planes: list) -> Column:
    """LSH bucket id: bit j = (dot(v, plane_j) > 0). ``planes`` is a list
    of python float-lists (broadcast as array literals)."""
    b = None
    for j, p in enumerate(planes):
        lit = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(dot(vec, lit) > 0, F.lit(1 << j)).otherwise(0)
        b = bit if b is None else b + bit
    return b.cast("int")


def ann_bucketed_topk(emb: DataFrame, n_planes: int = 6, max_query_id: int = 8,
                      k: int = 10, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k with data-derived hyperplanes: the first
    ``n_planes`` vectors (by id) act as hyperplanes; candidates must share
    the query's bucket (equi-join on a compact int key); exact cosine +
    window rank within the bucket. The oracle reproduces the identical
    algorithm, so results match exactly even though recall < 1 vs
    brute force.

    Bucketing is MAP-ONLY: the planes are a bounded n_planes-row
    collect inlined as literals (:func:`hyperplane_bucket`'s dot-fold
    sign bits), so the corpus meets its first shuffle at the bucket
    equi-join."""
    plane_rows = [list(r[1]) for r in
                  emb.where(F.col(id_col) < n_planes)
                     .select(F.col(id_col),
                             as_double(F.col(vec_col)).alias("pv"))
                     .orderBy(id_col).collect()]
    vecs = emb.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
    vb = vecs.withColumn("bucket",
                         hyperplane_bucket(F.col("v"), plane_rows))
    c = (vb.select(F.col(id_col).alias("neighbor_id"), F.col("v").alias("cv"),
                   "bucket")
         .withColumn("cn", norm(F.col("cv"))))
    q = F.broadcast(vb.where(F.col(id_col) < max_query_id)
                    .select(F.col(id_col).alias("query_id"),
                            F.col("v").alias("qv"), "bucket")
                    .withColumn("qn", norm(F.col("qv"))))
    scored = (c.join(q, "bucket")
              .where(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id",
                      cos6(dot(F.col("qv"), F.col("cv")),
                           F.col("qn") * F.col("cn")).alias("sim")))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "sim",
                    F.col("rank").cast("int").alias("rank")))


#: Bounded training-sample size for the Lloyd fits below. Training a
#: coarse quantizer / PQ codebook on a deterministic SAMPLE is the
#: standard billion-scale design (FAISS trains on ~10k-1M points
#: regardless of corpus size): driver work becomes corpus-size
#: INDEPENDENT — one TakeOrdered job collects the sample, the fit runs
#: locally, and only the fitted model (k×dim doubles) is re-broadcast.
#: The sample is the ``cap`` corpus rows with the smallest
#: (md5(id), id) — pseudo-random but deterministic and SQL-replayable
#: (ORDER BY md5(id) LIMIT cap). When the corpus fits under the cap
#: the sample IS the corpus and the fit is bit-identical to the old
#: full-corpus distributed Lloyd. The oracle replays carry the same
#: bounded sample (the ktrain/ptrain/rtrain LIMIT CTEs in
#: __spark_entry__._kmeans_ctes/_pq_oracle/_ivfpq_oracle), so parity
#: holds PAST the cap too — exercised by
#: tests/test_train_cap_parity.py on a cap+904-row corpus where the
#: full-corpus replay provably diverges.
TRAIN_SAMPLE_CAP = 4096


def _dot_fold(a, b) -> float:
    """Left-to-right add fold, matching F.aggregate(zip_with(a,b,*),0.0)
    and DuckDB list_reduce order — bit-identical across all three."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _norm_fold(v) -> float:
    import math
    acc = 0.0
    for x in v:
        acc = acc + x * x
    return math.sqrt(acc)


def _train_sample(vecs: DataFrame, id_col: str,
                  cols: tuple, cap: int = TRAIN_SAMPLE_CAP) -> list:
    """Collect the deterministic bounded training sample: the ``cap``
    rows with the smallest (md5(id), id), already in that order — ONE
    TakeOrdered job (no full sort shuffle), k rows x dim doubles on the
    driver regardless of corpus size."""
    rows = (vecs.select(F.col(id_col).alias("_id"), *cols)
            .orderBy(F.md5(F.col("_id").cast("string")), F.col("_id"))
            .limit(cap).collect())
    return rows


def kmeans_centroids(vecs: DataFrame, n_centroids: int = 8,
                     iters: int = 2, id_col: str = "vec_id") -> list:
    """Deterministic fixed-iteration Lloyd's k-means over the prenormed
    contract (id_col, v, n) → list of (cid, centroid) driver-side.

    Trains on the bounded md5-ordered sample (``TRAIN_SAMPLE_CAP``; the
    full corpus whenever it fits, as every fixture does) with ONE Spark
    job — the sample collect — then runs Lloyd locally with the exact
    engine arithmetic, so the result is bit-identical to the previous
    distributed implementation AND to the SQL oracle replay:
      - seeds = the ``n_centroids`` sample rows with the smallest
        (md5(id), id) — the sample is already in that order;
      - assignment = argmax of 6-dp-rounded cosine (left-to-right dot
        fold, the F.aggregate/list_reduce order), ties to the lowest
        centroid id;
      - update = per-dimension mean rounded to 6 dp, summed in sample
        (md5) order — engines sum in their own partial-aggregate
        orders, and the 6-dp rounding absorbs the sub-ulp spread, the
        same envelope the distributed version relied on.
    Empty clusters drop out. ``iters`` is fixed, not convergence-tested:
    the oracle must unroll the same number of rounds. The fit is
    corpus-size independent: at 100 TB the one TakeOrdered sample job
    replaces ``iters`` full-corpus shuffle rounds + per-round collects."""
    rows = _train_sample(vecs, id_col, ("v", "n"))
    sample = [(list(r["v"]), r["n"]) for r in rows]
    cents = [list(v) for v, _ in sample[:n_centroids]]
    cids = list(range(len(cents)))
    for _ in range(iters):
        cns = [_norm_fold(c) for c in cents]
        members: dict = {}
        for v, n in sample:
            best = max(
                # same -2.0 zero-denominator pin as cos6 (the local
                # Lloyd fold must rank exactly like the inlined plan)
                (round6(_dot_fold(v, c) / (n * cn)) if n * cn != 0
                 else -2.0, -cid)
                for cid, c, cn in zip(cids, cents, cns))
            members.setdefault(-best[1], []).append(v)
        new_cids, new_cents = [], []
        for cid in sorted(members):
            vs = members[cid]
            dim = len(vs[0])
            new_cids.append(cid)
            new_cents.append([
                round6(sum(v[p] for v in vs) / len(vs)) for p in range(dim)])
        cids, cents = new_cids, new_cents
    return list(zip(cids, cents))


#: process-level memo of fitted k-means models, keyed by
#: (caller-supplied corpus key, n_centroids, iters, id_col). A fitted
#: model is k×dim floats — trivially cacheable — while the fit costs
#: iters full corpus passes; sharing it across semantic_dedup /
#: ivf_trained_topk / ann_recall in one session is the r4 verdict
#: item 5 ("fit once, persist, reuse across dedup + search + graph").
_CENTROID_CACHE: dict = {}


def kmeans_centroids_cached(vecs: DataFrame, n_centroids: int = 8,
                            iters: int = 2, id_col: str = "vec_id",
                            cache_key=None) -> list:
    """:func:`kmeans_centroids` with a process-level memo. ``cache_key``
    must identify the corpus (e.g. ``(sf_dir, "embeddings")``) — the
    caller owns that contract; None disables caching. The fit is
    deterministic, so a cache hit is bit-identical to a refit."""
    if cache_key is None:
        return kmeans_centroids(vecs, n_centroids, iters, id_col)
    key = (cache_key, n_centroids, iters, id_col)
    return memo_get(_CENTROID_CACHE, key,
                    lambda: kmeans_centroids(vecs, n_centroids, iters,
                                             id_col))


def _centroid_frame(vecs: DataFrame, fitted: list):
    """Broadcastable (cid, cvec, cn) frame from a fitted centroid list."""
    return F.broadcast(
        vecs.sparkSession
        .createDataFrame(fitted, "cid int, cvec array<double>")
        .withColumn("cn", norm(F.col("cvec"))))


def _lit_vec(xs) -> Column:
    return F.array(*[F.lit(float(x)) for x in xs])


def _assign_inline(fitted: list, v_col: Column, n_col: Column) -> Column:
    """Argmax-cosine list id per row with the fitted centroids INLINED
    as literals — map-only assignment: no crossJoin, no corpus shuffle.
    Values are identical to the crossJoin + struct-max form (same
    left-to-right dot fold, same 6-dp rounding, same (cs, -cid)
    tie-break; centroid norms precomputed with the same fold), so
    oracle replays are unaffected — only the plan shape changes. At
    100 TB this turns index-build assignment from a full-corpus shuffle
    into a scan."""
    # ONE lambda over the literal candidate array (not one aggregate
    # node per candidate): tree size stays O(model data), so Catalyst
    # analysis/serialization cost is per-JOB constant, not per-candidate
    best = F.array_max(F.transform(
        _cands_lit(fitted), lambda c: F.struct(
            cos6(dot(v_col, c["cvec"]), n_col * c["cn"]).alias("cs"),
            (-c["cid"]).alias("ncid"))))
    return (-best["ncid"]).cast("int")


def _cands_lit(fitted: list) -> Column:
    """The fitted centroid list as a literal candidate array
    (cid, cvec, cn) — cn precomputed with the engine-exact fold."""
    return F.array(*[
        F.struct(F.lit(int(cid)).alias("cid"), _lit_vec(cvec).alias("cvec"),
                 F.lit(_norm_fold(cvec)).alias("cn"))
        for cid, cvec in fitted])


def _ranked_lists_inline(fitted: list, v_col: Column,
                         n_col: Column) -> Column:
    """All centroid candidates ranked per row — array<struct<ncs, cid>>
    sorted by (cosine desc, cid asc), computed map-only against the
    inlined fitted list. Element 1 is the argmax assignment
    (== :func:`_assign_inline`); the first nprobe elements are the
    probe lists the old corpus-wide row_number window produced — same
    values, zero shuffles."""
    return F.array_sort(F.transform(
        _cands_lit(fitted), lambda c: F.struct(
            (-cos6(dot(v_col, c["cvec"]), n_col * c["cn"]))
            .alias("ncs"),
            c["cid"].alias("cid"))))


def _centroid_map(fitted: list) -> Column:
    """cid → centroid-vector literal map (for residual subtraction)."""
    return F.map_from_arrays(
        F.array(*[F.lit(int(cid)) for cid, _ in fitted]),
        F.array(*[_lit_vec(c) for _, c in fitted]))


def ivf_topk(emb: DataFrame, n_centroids: int = 8, nprobe: int = 2,
             max_query_id: int = 8, k: int = 10, id_col: str = "vec_id",
             vec_col: str = "embedding", prenormed: bool = False,
             centroids="first", train_iters: int = 2) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the learned-partition
    scale path sketched in the module docstring. ``centroids`` picks the
    list structure:
      - "first" (default): the first ``n_centroids`` vectors by id — a
        deterministic stand-in requiring no training pass;
      - "trained": ``train_iters`` rounds of deterministic Lloyd's
        k-means (:func:`kmeans_centroids`) — better-balanced lists and
        recall on clustered data, same search plan.
    Both are reproducible bit-for-bit by the SQL oracle.

    Plan shape (the part that matters at 100 TB):
      1. assignment — MAP-ONLY: the centroid set is a tiny fitted list,
         inlined as a literal candidate array (:func:`_assign_inline`);
         argmax cosine per vector inside the corpus scan — no
         crossJoin, no shuffle, no window sort;
      2. probing — each query ranks the tiny centroid set and keeps its
         ``nprobe`` nearest lists (query side is small: window is fine);
      3. search — candidates = corpus rows whose list is probed: an
         equi-join on the compact centroid id against the BROADCAST
         probe set, exact cosine + per-query top-k within candidates.
    Recall < 1 by construction (a true neighbor assigned to an
    unprobed list is missed); raising nprobe trades compute for recall
    without changing the plan. ``prenormed=True`` accepts a corpus
    already in the :func:`prenorm` contract (e.g. persisted)."""
    vecs = emb if prenormed else prenorm(emb, id_col, vec_col)
    if isinstance(centroids, list):
        # injected pre-fitted model (kmeans_centroids[_cached] output):
        # the share-the-fit path — no training pass at all
        fitted = centroids
    elif centroids == "trained":
        fitted = kmeans_centroids(vecs, n_centroids, train_iters, id_col)
    elif centroids == "first":
        # deterministic stand-in lists: the first n vectors by id —
        # a bounded k-row collect (the vectors must reach the driver to
        # be inlined, exactly like a fitted model)
        fitted = [(int(r[0]), list(r[1])) for r in
                  vecs.where(F.col(id_col) < n_centroids)
                      .select(F.col(id_col), "v")
                      .orderBy(id_col).collect()]
    else:
        raise ValueError(
            f"centroids must be first|trained|a fitted list, got {centroids!r}")
    cents = _centroid_frame(vecs, fitted)
    # query-side scoring frame (probes filter it to max_query_id rows)
    scored = vecs.crossJoin(cents).select(
        F.col(id_col), F.col("v"), F.col("n"), "cid",
        cos6(dot(F.col("v"), F.col("cvec")),
             F.col("n") * F.col("cn")).alias("cs"))
    wprobe = Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("cid"))
    probes = F.broadcast(
        scored.where(F.col(id_col) < max_query_id)
        .select(F.col(id_col).alias("query_id"), "cid", "cs")
        .withColumn("_pr", F.row_number().over(wprobe))
        .where(F.col("_pr") <= nprobe)
        .select("query_id", "cid"))
    # corpus-side list assignment is MAP-ONLY (argmax centroid per
    # vector: highest 6-dp cosine, ties to the LOWEST centroid id —
    # the fitted list inlined as a literal via _assign_inline), so the
    # corpus reaches the search join with zero prior shuffles — the
    # old crossJoin + struct-max groupBy + re-join corpus shuffles are
    # gone; values are identical
    vb = vecs.withColumn(
        "cid", _assign_inline(fitted, F.col("v"), F.col("n")))
    c = vb.select(F.col(id_col).alias("neighbor_id"),
                  F.col("v").alias("cv"), F.col("n").alias("cn"), "cid")
    q = F.broadcast(
        vb.where(F.col(id_col) < max_query_id)
        .select(F.col(id_col).alias("query_id"),
                F.col("v").alias("qv"), F.col("n").alias("qn"))
        .join(probes, "query_id"))
    pairs = (c.join(q, "cid")
             .where(F.col("neighbor_id") != F.col("query_id"))
             .select("query_id", "neighbor_id",
                     cos6(dot(F.col("qv"), F.col("cv")),
                          F.col("qn") * F.col("cn")).alias("sim")))
    # no pair-dedup needed: each neighbor lives in exactly ONE list and
    # a query's probed lists are distinct, so (query, neighbor) is unique
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "sim",
                    F.col("rank").cast("int").alias("rank")))


def _knn_gemm_pairs(q: DataFrame, c: DataFrame, k: int) -> DataFrame:
    """Per-list blocked-GEMM candidate scoring for the k-NN graph:
    cogroup queries and list members on the compact cid and score each
    list with ONE BLAS matrix multiply instead of per-pair JVM HOF dots
    (measured ~6× on the sf0.1 graph: the HOF fold is interpreter-bound
    at ~0.7M dot/s/core; a 64-dim GEMM streams at memory bandwidth).
    Emits each query's top-k WITHIN the list — the global top-k over a
    query's nprobe lists is a superset-safe merge done by the caller.
    Query rows are processed in bounded blocks so the score matrix
    stays O(block × |list|) regardless of how many queries probe a
    hot list."""
    import numpy as np
    import pandas as pd

    out_schema = ("query_id long, neighbor_id long, sim double")

    def _round6_half_up(a):
        # Spark F.round / the SQL oracle use decimal HALF_UP (away from
        # zero); np.round is half-to-EVEN and flips exact 6-dp ties
        # (e.g. 17/128 = 0.1328125 -> 0.132812 vs Spark's 0.132813)
        return np.sign(a) * np.floor(np.abs(a) * 1e6 + 0.5) / 1e6

    def score(key, qpdf, cpdf):
        if not len(qpdf) or not len(cpdf):
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "sim": []})
        C = np.stack(cpdf["cv"].to_numpy())
        cn = cpdf["cn"].to_numpy()
        nb = cpdf["neighbor_id"].to_numpy()
        outs = []
        for lo in range(0, len(qpdf), 1024):
            qb = qpdf.iloc[lo:lo + 1024]
            Q = np.stack(qb["qv"].to_numpy())
            S = _round6_half_up(
                (Q @ C.T) / np.outer(qb["qn"].to_numpy(), cn))
            qid = qb["query_id"].to_numpy()
            S[nb[None, :] == qid[:, None]] = -np.inf    # self-match
            # per-row top-k by (sim desc, neighbor_id asc): sort on
            # (-sim, nb) lexicographically via argsort of structured keys
            order = np.lexsort((nb[None, :].repeat(len(qb), 0), -S), axis=1)
            take = order[:, :k]
            kk = take.shape[1]   # a list may hold FEWER than k members
            sims = np.take_along_axis(S, take, axis=1)
            keep = np.isfinite(sims)
            outs.append(pd.DataFrame({
                "query_id": qid.repeat(kk)[keep.ravel()],
                "neighbor_id": nb[take.ravel()][keep.ravel()],
                "sim": sims.ravel()[keep.ravel()]}))
        return pd.concat(outs, ignore_index=True)

    return (q.groupBy("cid").cogroup(c.groupBy("cid"))
            .applyInPandas(score, out_schema))


def knn_join(emb: DataFrame, k: int = 5, n_centroids: int = 8,
             nprobe: int = 2, id_col: str = "vec_id",
             vec_col: str = "embedding",
             scorer: str = "gemm") -> DataFrame:
    """Full approximate k-NN GRAPH: every vector's top-k cosine
    neighbors among its ``nprobe`` nearest IVF lists — the all-pairs
    companion to ivf_topk (whose query side is a small broadcast set).

    Plan shape (the 100-TB difference from ivf_topk): the query side is
    the WHOLE corpus, so probes cannot be broadcast — candidate
    generation is a SHUFFLE equi-join on the compact list id between
    (corpus × its probed lists) and (corpus × its assigned list).
    Per-key work is |probers(cid)| × |list(cid)|: quadratic within a
    list, never across the corpus — the standard IVF-graph bound, tuned
    by n_centroids (scale it ~√N so lists stay O(√N)). Assignment and
    probing are both MAP-ONLY (one ranked inlined-candidates array per
    row, :func:`_ranked_lists_inline`) — the corpus meets its first
    shuffle at the candidate equi-join itself.

    Deterministic stand-in centroids (first n_centroids by id) keep the
    whole graph SQL-replayable; swap centroids="trained" machinery in
    via ivf_topk's kmeans_centroids for production recall.

    ``scorer`` picks the candidate-scoring engine:
      - "gemm" (default): per-list blocked BLAS matrix multiply via a
        cogrouped applyInPandas (:func:`_knn_gemm_pairs`) — the
        FAISS-shaped compute path, measured ~6× faster (1.3 s vs 7.5 s
        warm at sf0.1) with bit-identical results on the fixture;
      - "jvm": per-pair zip_with/aggregate dot products — no Python
        anywhere, exactly the SQL oracle's arithmetic. A sub-ulp
        BLAS-vs-fold summation difference can in principle flip a 6-dp
        rounding boundary on other data, so this is the
        conservative-parity mode; both modes are oracle-gated and
        equality-tested against each other."""
    vecs = prenorm(emb, id_col, vec_col)
    # deterministic stand-in lists (first n by id): a bounded k-row
    # collect so the centroids can be inlined like a fitted model
    fitted = [(int(r[0]), list(r[1])) for r in
              vecs.where(F.col(id_col) < n_centroids)
                  .select(F.col(id_col), "v").orderBy(id_col).collect()]
    # assignment AND per-vector probe lists map-only from ONE ranked
    # literal-candidates array (_ranked_lists_inline): the old corpus ×
    # centroids crossJoin, struct-max groupBy shuffle, per-vector
    # row_number window and the two corpus re-joins are all gone —
    # candidate generation is the first shuffle the corpus meets
    base = vecs.select(F.col(id_col), "v", "n",
                       _ranked_lists_inline(fitted, F.col("v"), F.col("n"))
                       .alias("_rk"))
    q = (base.select(F.col(id_col).alias("query_id"),
                     F.col("v").alias("qv"), F.col("n").alias("qn"),
                     F.explode(F.slice("_rk", 1, nprobe)).alias("_p"))
         .select("query_id", "qv", "qn", F.col("_p.cid").alias("cid")))
    c = base.select(F.col(id_col).alias("neighbor_id"),
                    F.col("v").alias("cv"), F.col("n").alias("cn"),
                    F.element_at("_rk", 1)["cid"].alias("cid"))
    if scorer == "gemm":
        # per-list top-k then global top-k: the global winner set is a
        # subset of the per-list winners, so the merge is exact
        pairs = _knn_gemm_pairs(q, c, k)
    elif scorer == "jvm":
        pairs = (c.join(q, "cid")
                 .where(F.col("neighbor_id") != F.col("query_id"))
                 .select("query_id", "neighbor_id",
                         round6_binary(dot(F.col("qv"), F.col("cv"))
                                 / (F.col("qn") * F.col("cn")))
                         .alias("sim")))
    else:
        raise ValueError(f"scorer must be jvm|gemm, got {scorer!r}")
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "sim",
                    F.col("rank").cast("int").alias("rank")))


def semantic_dedup(emb: DataFrame, n_centroids: int = 8,
                   train_iters: int = 2, min_cosine: float = 0.95,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   centroids: Optional[list] = None) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication" — public paper): cluster the embedding corpus with
    k-means, then WITHIN each cluster drop every vector whose cosine
    similarity to a lower-id cluster member reaches ``min_cosine``.
    Keeping the lowest id of each similar pair is the deterministic
    stand-in for the paper's keep-one-per-group rule (the paper keeps
    the member farthest from the centroid; any single-representative
    rule yields the same dedup ratio, and lowest-id is exactly
    SQL-replayable). Pairwise semantics: B is dropped when ANY lower-id
    A in its cluster is similar, even if A is itself dropped — one
    relational pass, no iterative chain.

    Returns one row per input vector: (id_col, cid, max_sim_lower,
    is_kept). ``max_sim_lower`` is the highest cosine to any lower-id
    cluster member (NULL for each cluster's lowest id).

    Scale design (100 TB): clustering IS the blocking structure — the
    all-pairs comparison happens only inside a cluster (equi-join on the
    compact cid, one shuffle), never across the corpus. The quadratic
    term is bounded by the cluster size, which the operator controls:
    n_centroids scales with the corpus (the paper uses ~100k clusters
    for billions of docs) so the expected cluster stays O(N/k). The
    k-means training cost is iters × (corpus × broadcast-centroids)
    map passes with a k×dim driver sync per round
    (:func:`kmeans_centroids`) — OR zero, when a pre-fitted model is
    injected via ``centroids`` (the production shape: fit once on the
    base corpus, reuse across dedup + search + graph;
    :func:`kmeans_centroids_cached`)."""
    vecs = prenorm(emb, id_col, vec_col)
    trained = (centroids if centroids is not None else
               kmeans_centroids(vecs, n_centroids, train_iters, id_col))
    # map-only cluster assignment (inlined fitted list): the corpus
    # reaches the within-cluster pair join with zero prior shuffles
    vb = vecs.select(F.col(id_col), "v", "n",
                     _assign_inline(trained, F.col("v"), F.col("n"))
                     .alias("cid"))
    a = vb.select(F.col("cid"), F.col(id_col).alias("_id_a"),
                  F.col("v").alias("va"), F.col("n").alias("na"))
    b = vb.select(F.col("cid"), F.col(id_col).alias("_id_b"),
                  F.col("v").alias("vb"), F.col("n").alias("nb"))
    sims = (a.join(b, "cid")
            .where(F.col("_id_a") < F.col("_id_b"))
            .groupBy(F.col("_id_b").alias(id_col))
            .agg(F.max(round6_binary(dot(F.col("va"), F.col("vb"))
                               / (F.col("na") * F.col("nb"))))
                 .alias("max_sim_lower")))
    return (vb.join(sims, id_col, "left")
            .select(F.col(id_col), F.col("cid"),
                    F.col("max_sim_lower"),
                    (F.col("max_sim_lower").isNull()
                     | (F.col("max_sim_lower") < min_cosine))
                    .alias("is_kept")))


def embedding_near_dup(emb: DataFrame, probe_max_id: int,
                       min_cosine: float = 0.99,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       offset: int = 1_000_000) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: the corpus is augmented with
    exact copies (id + offset) so true near-dups exist deterministically;
    probes are ids < probe_max_id (plus their copies); matches are pairs
    with cosine ≥ min_cosine."""
    base = emb.select(id_col, vec_col)
    copies = base.select((F.col(id_col) + offset).alias(id_col), F.col(vec_col))
    corpus = base.unionAll(copies)
    probes = F.broadcast(
        corpus.where((F.col(id_col) % offset) < probe_max_id)
        .select(F.col(id_col).alias("id_a"), as_double(F.col(vec_col)).alias("va"))
        .withColumn("na", norm(F.col("va"))))
    cands = (corpus.select(F.col(id_col).alias("id_b"),
                           as_double(F.col(vec_col)).alias("vb"))
             .withColumn("nb", norm(F.col("vb"))))
    return (cands.crossJoin(probes)
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    round6_binary(dot(F.col("va"), F.col("vb"))
                            / (F.col("na") * F.col("nb"))).alias("sim"))
            .where(F.col("sim") >= min_cosine))


def quantize_embeddings(emb: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 quantization — the standard 4x storage/
    bandwidth reduction for an ANN corpus (each float32 dim becomes one
    int8 plus one shared per-vector scale). Pure higher-order array
    built-ins, zero Python: scale = max|x| / 127, q_i = round(x_i /
    scale) half away from zero (the binary-value convention the whole
    repo uses, so a SQL oracle reproduces every code exactly). All-zero
    vectors quantize to all-zero codes with scale 0 instead of dividing
    by zero. Returns (id_col, scale double, q array<long> in
    [-127, 127])."""
    v = as_double(F.col(vec_col))
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = maxabs / F.lit(127.0)

    def code(x):
        r = x / scale
        return (F.signum(r) * F.floor(F.abs(r) + F.lit(0.5))).cast("long")

    q = F.when(maxabs == F.lit(0.0),
               F.transform(v, lambda x: F.lit(0).cast("long"))) \
         .otherwise(F.transform(v, code))
    return emb.select(F.col(id_col), scale.alias("scale"), q.alias("q"),
                      v.alias("v"))


def quantization_report(emb: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Per-vector quantization QA: the dequantization error of the int8
    codes, in integer-exact form so engines agree bit-for-bit — the sum
    of per-dim |x - q*scale| scaled to nano units and rounded to int
    BEFORE summing (an integer sum is associative; a double sum of 64
    terms is not, and two engines may fold in different orders).
    Returns (id_col, scale6, q_sum, q_absmax, err_nano)."""
    qd = quantize_embeddings(emb, id_col, vec_col)
    zero = F.lit(0).cast("long")
    err = F.aggregate(
        F.zip_with(F.col("v"), F.col("q"),
                   lambda x, qi: F.floor(
                       F.abs(x - qi.cast("double") * F.col("scale"))
                       * F.lit(1e9) + F.lit(0.5)).cast("long")),
        zero, lambda acc, e: acc + e)
    return qd.select(
        F.col(id_col),
        round6_binary(F.col("scale")).alias("scale6"),
        F.aggregate(F.col("q"), zero, lambda a, e: a + e).alias("q_sum"),
        F.array_max(F.transform(F.col("q"), lambda x: F.abs(x)))
        .alias("q_absmax"),
        err.alias("err_nano"))


# Binary (1-bit) quantization + Hamming retrieval ------------------------

#: dims packed per int64 word — 32, not 64: bit 63 would flip a word
#: negative, and DuckDB's left shift refuses 1 << 63, so half-packing
#: keeps BOTH engines' replay total. Hamming math is unchanged; the
#: code is still 32x smaller than float32.
BIN_WORD_BITS = 32


def binary_quantize(emb: DataFrame, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """1-bit sign quantization (binary embeddings): bit j of word w is
    set iff x[w*32 + j] > 0 — the extreme compression point of the
    quantization family (int8 = :func:`quantize_embeddings`, PQ below),
    used for Hamming-distance retrieval and rerank funnels. Pure JVM
    higher-order builtins, zero Python: each word is a zip_with of the
    dim slice against bit positions (2^j exact for j <= 31) folded by
    an int64 sum — distinct powers, so the fold can never overflow.
    Returns (id_col, b array<long> of ceil(d/32) words, n_dims int)."""
    v = as_double(F.col(vec_col))
    return emb.select(
        F.col(id_col),
        _packed_words(v).alias("b"),
        F.size(v).cast("int").alias("n_dims"))


def _packed_words(v: Column) -> Column:
    """The packed sign-bit words of :func:`binary_quantize` as a bare
    column expression (array<long> of ceil(d/32) words) — shared with
    :func:`hamming_join`, which carries the words through its band
    explode so the distance is computable inline on the joined pair."""
    nw = F.ceil(F.size(v) / F.lit(BIN_WORD_BITS)).cast("int")

    def word(w):
        sl = F.slice(v, w * F.lit(BIN_WORD_BITS) + F.lit(1),
                     F.lit(BIN_WORD_BITS))
        # zip_with pads the short last slice with NULL dims -> bit 0
        bits = F.zip_with(
            sl, F.sequence(F.lit(0), F.lit(BIN_WORD_BITS - 1)),
            lambda x, j: F.when(x > 0, F.pow(F.lit(2.0), j)
                                .cast("long"))
                          .otherwise(F.lit(0).cast("long")))
        return F.aggregate(bits, F.lit(0).cast("long"),
                           lambda a, b: a + b)

    return F.transform(F.sequence(F.lit(0), nw - F.lit(1)), word)


def hamming_topk(emb: DataFrame, k: int = 10, max_query_id: int = 8,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Binary-embedding top-k by Hamming distance: quantize once,
    broadcast the query codes, distance = int64 sum of
    bit_count(xor(word, word)) over the packed words — integer-exact,
    so the ranking replays bit-for-bit in any engine (no float
    anywhere). The 100 TB shape: the corpus scan streams array<long>
    codes at 1/32 the float32 bytes, distances are a handful of JVM
    bit ops per candidate, and the only shuffle is the per-query top-k
    window — the standard first stage of a binary-retrieve /
    float-rerank funnel. Ties break by neighbor id; self-matches
    excluded. Returns (query_id, neighbor_id, hamming long, rank)."""
    bq = binary_quantize(emb, id_col, vec_col)
    q = F.broadcast(bq.where(F.col(id_col) < max_query_id)
                    .select(F.col(id_col).alias("query_id"),
                            F.col("b").alias("qb")))
    c = bq.select(F.col(id_col).alias("neighbor_id"),
                  F.col("b").alias("cb"))
    dist = F.aggregate(
        F.zip_with(F.col("qb"), F.col("cb"),
                   lambda a, b: F.bit_count(a.bitwiseXOR(b))
                   .cast("long")),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    scored = (c.crossJoin(q)
              .where(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id", dist.alias("hamming")))
    w = Window.partitionBy("query_id").orderBy(F.asc("hamming"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank",
                              F.row_number().over(w).cast("int"))
            .where(F.col("rank") <= k))


def hamming_join(emb: DataFrame, radius: int = 3, bands: int = None,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """EXACT Hamming-radius self-join over the 1-bit codes — all pairs
    with hamming(a, b) <= radius — via pigeonhole banding (multi-index
    hashing): the sign bits split into ``bands`` disjoint dim groups
    (bands = radius + 1 by default); a pair within the radius differs
    in <= radius bits total, so AT LEAST ONE band is bit-identical —
    candidates come from an equi-join on (band_idx, band_code) and the
    exact distance filter keeps no false positives, misses nothing.
    The binary-code twin of the MinHash band join: bucketed, no
    all-pairs crossing anywhere, and — unlike LSH — the result is
    exact, so the oracle is the brute-force definition itself.

    Scale: explode = bands rows per vector; bucket sizes follow the
    band-code distribution (skewed all-zero codes behave like hot
    shingles — cap or salt if a corpus is degenerate). Returns
    (a_id, b_id, hamming) with a_id < b_id, deduped across bands."""
    if radius < 0:
        raise ValueError("hamming_join: radius must be >= 0")
    nb = bands if bands is not None else radius + 1
    if nb < radius + 1:
        raise ValueError("hamming_join: bands must be >= radius + 1 "
                         "(pigeonhole completeness)")
    v = as_double(F.col(vec_col))
    # uniform-dim contract (every embedding fixture/pipeline frame):
    # one-row probe, not a corpus aggregate
    row = emb.select(F.size(v).alias("d")).first()
    d = int(row["d"]) if row and row["d"] is not None else 0
    if nb > max(d, 1):
        raise ValueError(
            f"hamming_join: {nb} bands over {d} dims leaves empty "
            "bands (a universal bucket) — radius too large for the "
            "code length")
    # EVEN integer partition of the dims: band i covers
    # [i*d//nb, (i+1)*d//nb). A ceil-width scheme would leave the
    # last band(s) EMPTY when nb doesn't divide d — every vector
    # would share the empty band's code 0, a universal bucket that
    # degenerates the join to all-pairs.
    edges = [(i * d) // nb for i in range(nb + 1)]
    widest = max(edges[i + 1] - edges[i] for i in range(nb))
    if widest > 62:
        raise ValueError(
            f"hamming_join: {widest} dims in one band overflows the "
            f"int64 band code — raise bands (>= {-(-d // 62)})")

    def band(i):
        s0, ln = edges[i], edges[i + 1] - edges[i]
        sl = F.slice(v, s0 + 1, ln)
        bits = F.zip_with(
            sl, F.sequence(F.lit(0), F.lit(ln - 1)),
            lambda x, j: F.when(x > 0, F.pow(F.lit(2.0), j)
                                .cast("long"))
                          .otherwise(F.lit(0).cast("long")))
        return F.aggregate(bits, F.lit(0).cast("long"),
                           lambda a, b: a + b)
    # r11 shape (guide §2.3/§2.4, the lsh_pairs restructure): the
    # banded relation CARRIES the packed code words, so the exact
    # distance is computed inline on the joined pair — the two
    # code join-backs of the previous shape (and their exchanges) are
    # gone, and the pair dedup is one distinct over
    # (a_id, b_id, hamming), which is exactly (a_id, b_id) since the
    # distance is functionally dependent on the pair.
    coded = emb.select(
        F.col(id_col).alias("_id"),
        _packed_words(v).alias("_pw"),
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band_idx"), band(i).alias("code"))
            for i in range(nb)])).alias("_b"))\
        .select("_id", "_pw", "_b.band_idx", "_b.code")
    dist = F.aggregate(
        F.zip_with(F.col("ab"), F.col("bb"),
                   lambda a, b: F.bit_count(a.bitwiseXOR(b))
                   .cast("long")),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    left = coded.select("band_idx", "code", F.col("_id").alias("a_id"),
                        F.col("_pw").alias("ab"))
    right = coded.select("band_idx", "code", F.col("_id").alias("b_id"),
                         F.col("_pw").alias("bb"))
    return (left.join(right, ["band_idx", "code"])
            .where(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id", dist.alias("hamming"))
            .where(F.col("hamming") <= radius)
            .distinct())


def binary_rerank_topk(emb: DataFrame, k: int = 10,
                       shortlist: int = 50, max_query_id: int = 8,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """The retrieve-then-rerank funnel end-to-end: a Hamming shortlist
    (:func:`hamming_topk`, ``shortlist`` candidates per query) is
    reranked by EXACT cosine to the final top-``k``. The 100 TB
    shape this exists for: the corpus-wide pass touches only the
    1-bit codes (1/32 the bytes, integer ops), and the float vectors
    are fetched — by id join — for just Q x shortlist rows, so the
    expensive exact math never sees the corpus. Returns
    (query_id, neighbor_id, sim, rank) like :func:`cosine_topk`."""
    cand = hamming_topk(emb, k=shortlist, max_query_id=max_query_id,
                        id_col=id_col, vec_col=vec_col) \
        .select("query_id", "neighbor_id")
    vecs = prenorm(emb, id_col, vec_col)
    q = vecs.select(F.col(id_col).alias("query_id"),
                    F.col("v").alias("qv"), F.col("n").alias("qn"))
    c = vecs.select(F.col(id_col).alias("neighbor_id"),
                    F.col("v").alias("cv"), F.col("n").alias("cn"))
    # the shortlist is Q x shortlist rows — broadcast it into the
    # corpus-side id join, then attach the (broadcast-sized) queries
    scored = (c.join(F.broadcast(cand), "neighbor_id")
              .join(F.broadcast(q), "query_id")
              .select("query_id", "neighbor_id",
                      cos6(dot(F.col("qv"), F.col("cv")),
                           F.col("qn") * F.col("cn")).alias("sim")))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank",
                              F.row_number().over(w).cast("int"))
            .where(F.col("rank") <= k))


# Product quantization (ADC search) -------------------------------------

def _subvectors(v: Column, m: int, d: int) -> Column:
    """array of m subvector slices (each d dims) of an array<double>."""
    return F.array(*[F.slice(v, s * d + 1, d) for s in range(m)])


def _l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, x: acc + x)


def pq_train(vecs: DataFrame, m: int = 8, ksub: int = 16, iters: int = 2,
             id_col: str = "vec_id") -> list:
    """Product-quantization codebooks: the embedding dimension is split
    into ``m`` subspaces and each gets ``ksub`` centroids from
    deterministic L2 Lloyd's over the bounded md5-ordered training
    sample (``TRAIN_SAMPLE_CAP`` — see :func:`kmeans_centroids` for the
    sample-training rationale). ONE Spark job total: the sample collect
    is shared by all m subspaces; the Lloyd rounds run locally.

    Same engine-exactness discipline as kmeans_centroids: seeds are the
    ksub smallest-(md5(id), id) vectors (identical row set for every
    subspace), assignment is argmin of 6-dp-rounded SQUARED L2
    (left-to-right fold) with ties to the lowest centroid id, means
    round to 6 dp — bit-identical to the previous distributed fit and
    to the SQL oracle replay whenever the corpus fits under the cap.
    Returns [(s, cid, centroid)] (m*ksub*d doubles — corpus-size
    independent)."""
    rows = _train_sample(vecs, id_col, ("v",))
    sample = [list(r["v"]) for r in rows]
    dim = len(sample[0])
    if dim % m != 0:
        raise ValueError(f"pq_train: dim {dim} not divisible by m {m}")
    d = dim // m

    def _l2sq_fold(a, b) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (x - y) * (x - y)
        return acc

    # per-subspace training over the SAME bounded sample (one collect
    # shared by all m subspaces; the old distributed version's "all
    # subspaces in shared jobs" property carries over trivially)
    out = []
    for s in range(m):
        svs = [v[s * d:(s + 1) * d] for v in sample]
        cents = [list(sv) for sv in svs[:ksub]]
        cids = list(range(len(cents)))
        for _ in range(iters):
            members: dict = {}
            for sv in svs:
                best = min(
                    (round6(_l2sq_fold(sv, c)), cid)
                    for cid, c in zip(cids, cents))
                members.setdefault(best[1], []).append(sv)
            cids, cents = [], []
            for cid in sorted(members):
                vs = members[cid]
                cids.append(cid)
                cents.append([
                    round6(sum(v[p] for v in vs) / len(vs)) for p in range(d)])
        out.extend((s, cid, c) for cid, c in zip(cids, cents))
    return out


def _codes_expr(codebooks: list, m: int, d: int, v_col: Column) -> Column:
    """array<int> of m PQ codes per row, codebooks inlined as literals —
    map-only encode (no explode, no join, no per-id aggregate): per
    subspace, argmin of the 6-dp-rounded squared L2 against the ksub
    candidate centroids, ties to the lowest code (F.array_min over
    (d2, cid) structs == the old F.min(struct(d2, cid)) aggregate)."""
    by_s: dict = {}
    for s, cid, cvec in codebooks:
        by_s.setdefault(s, []).append((cid, cvec))
    # nested literal: cb_lit[s] = that subspace's (cid, cvec) candidates;
    # ONE nested lambda scores them all, keeping the expression tree
    # O(model data) instead of one aggregate node per (s, cid) pair
    cb_lit = F.array(*[
        F.array(*[F.struct(F.lit(int(cid)).alias("cid"),
                           _lit_vec(cvec).alias("cvec"))
                  for cid, cvec in by_s[s]])
        for s in range(m)])
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.array_min(F.transform(
            F.element_at(cb_lit, s + 1),
            lambda c: F.struct(
                round6_binary(_l2sq(F.slice(v_col, s * d + 1, d),
                                    c["cvec"])).alias("d2"),
                c["cid"].alias("cid"))))["cid"])


def pq_encode(vecs: DataFrame, codebooks: list, m: int, d: int,
              id_col: str = "vec_id") -> DataFrame:
    """int8-style PQ codes: (id_col, codes array<int> of length m) —
    each float32 corpus vector becomes m small ints plus the shared
    codebooks (m*ksub*d doubles), a 32x storage cut at m=8 over 64
    float dims. Map-only (:func:`_codes_expr`): the encode pass is a
    scan, no shuffle at any corpus size."""
    return vecs.select(F.col(id_col),
                       _codes_expr(codebooks, m, d, F.col("v")).alias("codes"))


#: process-level memo of trained PQ codebooks, same contract as
#: _CENTROID_CACHE: a codebook is m*ksub*(dim/m) floats (tiny) while
#: training costs iters corpus passes; pq_topk + pq_recall in one
#: session then share ONE fit (deterministic, so a hit is bit-identical
#: to a refit).
_PQ_CACHE: dict = {}


def pq_train_cached(vecs: DataFrame, m: int = 8, ksub: int = 16,
                    iters: int = 2, id_col: str = "vec_id",
                    cache_key=None) -> list:
    """:func:`pq_train` with a process-level memo; ``cache_key`` must
    identify the corpus, None disables caching."""
    if cache_key is None:
        return pq_train(vecs, m, ksub, iters, id_col)
    key = (cache_key, m, ksub, iters, id_col)
    return memo_get(_PQ_CACHE, key,
                    lambda: pq_train(vecs, m, ksub, iters, id_col))


def pq_search(vecs: DataFrame, m: int = 8, ksub: int = 16,
              iters: int = 2, max_query_id: int = 8, k: int = 10,
              id_col: str = "vec_id", cache_key=None) -> DataFrame:
    """Asymmetric-distance (ADC) PQ top-k by inner product: the dot
    product decomposes exactly over subspaces, so score(q, x) ~
    sum_s dot(q_s, codebook[s][code_s(x)]). Per query the m*ksub
    lookup table broadcasts (tiny); the corpus side touches only the
    CODES — at 100 TB the scan reads m bytes per vector instead of the
    raw floats, the entire point of PQ. Per-entry contributions round
    to integer micro units before the sum, making scores fold-order
    independent. Returns (query_id, neighbor_id, score_micro, rank)."""
    cb = pq_train_cached(vecs, m, ksub, iters, id_col,
                         cache_key=cache_key)
    # subspace width from the fitted codebook — the r10 shape probed
    # the corpus with a one-row first() just to learn the dimension,
    # an extra Spark job per call (pq_train already derives and
    # validates dim % m == 0 from its own training sample)
    d = len(cb[0][2])
    # r12, the ivfpq `inv` discipline: materialize the narrow
    # (id, codes) index ONCE. Left lazy, the inlined-codebook encode
    # expression (m*ksub literal candidate structs, interpreted — no
    # codegen for lambda HOFs) is re-evaluated inside the downstream
    # Generate/join contexts; measured 5.0 -> 3.7 s per pq_topk run at
    # sf0.1 from this checkpoint alone.
    codes = pq_encode(vecs, cb, m, d, id_col).localCheckpoint(eager=True)
    spark = vecs.sparkSession
    cdf = spark.createDataFrame(cb, "s int, cid int, cvec array<double>")
    qsubs = (vecs.where(F.col(id_col) < max_query_id)
             .select(F.col(id_col).alias("query_id"),
                     F.posexplode(_subvectors(F.col("v"), m, d))
                     .alias("s", "qv")))
    dp = round6_binary(dot(F.col("qv"), F.col("cvec")))
    # the ADC lookup table is queries*m*ksub rows; materializing it
    # keeps the broadcast build from replaying the corpus scan + fold
    # chain per action (second half of the 3.7 -> ~2.5 s step)
    table = F.broadcast(
        qsubs.join(F.broadcast(cdf), "s")
        .select("query_id", "s", "cid",
                micro(dp).alias("dp_micro"))
        .localCheckpoint(eager=True))
    exploded = codes.select(F.col(id_col).alias("neighbor_id"),
                            F.posexplode(F.col("codes"))
                            .alias("s", "cid"))
    scored = (exploded.join(table, ["s", "cid"])
              .groupBy("query_id", "neighbor_id")
              .agg(F.sum("dp_micro").alias("score_micro")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("neighbor_id"))
    return (scored.where(F.col("query_id") != F.col("neighbor_id"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def random_projection_int(emb: DataFrame, out_dim: int = 16,
                          seed: str = "rp1", id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Seeded Johnson-Lindenstrauss sketch over int8-QUANTIZED codes —
    the dimensionality-reduction stage before cheap candidate scoring
    (a 64-dim float vector becomes ``out_dim`` exact int64 sums).

    The ±1 projection matrix is DERIVED, not stored: sign(j, k) =
    parity of the first md5 nibble of "seed|j|k" — identical in any
    engine, no broadcast state, and a new ``seed`` is a fresh
    projection. Projecting the integer codes instead of the floats
    makes every output an exact integer (no summation-order term), at
    the cost of the (already-accepted) quantization error.

    Scale shape: posexplode to (vec, dim) pairs, a crossJoin against
    the bounded ``out_dim`` axis, one grouped integer SUM — all
    JVM-side, whole-stage-codegen'd."""
    spark = emb.sparkSession
    q = quantize_embeddings(emb, id_col=id_col, vec_col=vec_col)
    pos = q.select(F.col(id_col),
                   F.posexplode(F.col("q")).alias("j", "x"))
    ks = F.broadcast(spark.range(out_dim)
                     .select(F.col("id").cast("int").alias("k")))
    sign = F.when(
        F.conv(F.substring(F.md5(F.concat(
            F.lit(seed), F.lit("|"), F.col("j").cast("string"),
            F.lit("|"), F.col("k").cast("string"))), 1, 1), 16, 10)
        .cast("int") % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
    return (pos.crossJoin(ks)
            .groupBy(id_col, "k")
            .agg(F.sum(F.col("x") * sign).alias("proj_int")))


def ivfpq_search(vecs: DataFrame, n_coarse: int = 8, coarse_iters: int = 2,
                 nprobe: int = 2, m: int = 8, ksub: int = 16,
                 pq_iters: int = 2, max_query_id: int = 8, k: int = 10,
                 id_col: str = "vec_id", cache_key=None) -> DataFrame:
    """IVF-PQ (IVFADC, Jégou et al. 2011) — the billion-scale serving
    composition of the two index families above: a trained coarse
    quantizer partitions the corpus into inverted lists, and product
    quantization encodes each vector's RESIDUAL from its list centroid.
    A query probes ``nprobe`` lists and scores candidates as
    dot(q, c_list) + sum_s dot(q_s, codebook[s][code_s]) — the exact
    inner-product decomposition v = c + r, with both terms micro-int
    rounded so the sum is fold-order independent.

    Why this is THE 100 TB shape: the serving scan reads m ints + one
    list id per corpus vector (not the floats), the probe join prunes
    to nprobe/n_coarse of the corpus BEFORE any scoring, the index
    build (assignment + residual + encode) is MAP-ONLY — zero corpus
    shuffles, the fitted models inlined as literal expressions — and
    the only driver syncs are the two bounded TakeOrdered sample
    collects (<= TRAIN_SAMPLE_CAP rows each, corpus-size independent;
    both Lloyd fits run locally on those samples). Training residuals
    on 6-dp-rounded coarse means keeps every residual an exact IEEE
    double in both engines, so the full pipeline — coarse fit, residual
    PQ fit, encode, probe, ADC — is SQL-replayable bit-for-bit
    (corpus <= TRAIN_SAMPLE_CAP; beyond the cap the fits see the same
    bounded md5-ordered sample the oracle would have to LIMIT to).

    ``vecs`` must be in the prenorm contract (vec_id, v, n). Returns
    (query_id, neighbor_id, score_micro, rank).
    """
    spark = vecs.sparkSession

    # 1. coarse quantizer: shared deterministic cosine Lloyd fit
    #    (bounded-sample, one job; the centroids carry the dimension so
    #    no separate first() probe job is needed)
    coarse = kmeans_centroids_cached(vecs, n_coarse, coarse_iters, id_col,
                                     cache_key=cache_key)
    dim = len(coarse[0][1])
    if dim % m != 0:
        raise ValueError(f"ivfpq_search: dim {dim} not divisible by m {m}")
    d = dim // m
    cdf = _centroid_frame(vecs, coarse)
    # query-side scoring frame (probes filter it to max_query_id rows;
    # the filter pushes below the tiny broadcast crossJoin)
    scored = vecs.crossJoin(cdf).select(
        F.col(id_col), "cid",
        round6_binary(dot(F.col("v"), F.col("cvec"))
                      / (F.col("n") * F.col("cn"))).alias("cs"))

    # 2. + 3. corpus-side index build, MAP-ONLY: the fitted model is a
    #    tiny driver-side list, so list assignment (argmax cosine),
    #    residual subtraction r = v - c_assigned (exact: centroid
    #    entries are 6-dp decimals, both engines subtract identical
    #    doubles) and PQ encoding are all inlined literal expressions —
    #    the whole build is ONE scan of the corpus with ZERO shuffles
    #    (plus one TakeOrdered sample collect for the residual PQ fit).
    #    localCheckpoint materializes the narrow (id, cid, codes) index
    #    so serving never replays the build lineage.
    #    (res is checkpointed BEFORE encoding so Catalyst's projection
    #    collapse cannot substitute the large inlined-assignment
    #    expression into each of the m*ksub encode candidates)
    res = (vecs
           .select(F.col(id_col),
                   _assign_inline(coarse, F.col("v"), F.col("n"))
                   .alias("cid"), "v")
           .select(F.col(id_col), "cid",
                   F.zip_with("v", F.element_at(_centroid_map(coarse),
                                                F.col("cid")),
                              lambda x, y: x - y).alias("v"))
           .localCheckpoint())
    res_key = None if cache_key is None else (cache_key, "ivfpq-res")
    cb = pq_train_cached(res.select(id_col, "v"), m, ksub, pq_iters,
                         id_col, cache_key=res_key)
    inv = res.select(F.col(id_col), "cid",
                     _codes_expr(cb, m, d, F.col("v")).alias("codes")) \
             .localCheckpoint()

    # 4. query side (bounded): probe set, coarse dot term, ADC table
    qv = (vecs.where(F.col(id_col) < max_query_id)
          .select(F.col(id_col).alias("query_id"), F.col("v").alias("qv")))
    wpr = Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("cid"))
    probes = (scored.where(F.col(id_col) < max_query_id)
              .select(F.col(id_col).alias("query_id"), "cid", "cs")
              .withColumn("_pr", F.row_number().over(wpr))
              .where(F.col("_pr") <= nprobe)
              .select("query_id", "cid"))
    cvdf = F.broadcast(spark.createDataFrame(
        coarse, "cid int, cvec array<double>"))
    cdp = round6_binary(dot(F.col("qv"), F.col("cvec")))
    coarse_dp = (qv.crossJoin(cvdf)
                 .select("query_id", "cid",
                         micro(cdp).alias("coarse_micro")))
    probe_t = F.broadcast(probes.join(coarse_dp, ["query_id", "cid"]))
    cbdf = F.broadcast(spark.createDataFrame(
        cb, "s int, cid int, cvec array<double>"))
    qsubs = qv.select("query_id",
                      F.posexplode(_subvectors(F.col("qv"), m, d))
                      .alias("s", "qsv"))
    sdp = round6_binary(dot(F.col("qsv"), F.col("cvec")))
    lut = F.broadcast(
        qsubs.join(cbdf, "s")
        .select(F.col("query_id").alias("q2"), F.col("s").alias("s2"),
                F.col("cid").alias("cid2"),
                micro(sdp).alias("dp_micro")))

    # 5. serve: probe-pruned code scan -> per-subspace table lookups
    cand = inv.join(probe_t, "cid")
    expl = cand.select(F.col(id_col).alias("neighbor_id"), "query_id",
                       "coarse_micro",
                       F.posexplode(F.col("codes")).alias("s", "scid"))
    scoredq = (expl.join(lut, (expl["query_id"] == lut["q2"])
                         & (expl["s"] == lut["s2"])
                         & (expl["scid"] == lut["cid2"]))
               .groupBy("query_id", "neighbor_id", "coarse_micro")
               .agg(F.sum("dp_micro").alias("res_micro"))
               .select("query_id", "neighbor_id",
                       (F.col("coarse_micro") + F.col("res_micro"))
                       .alias("score_micro")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("neighbor_id"))
    return (scoredq.where(F.col("query_id") != F.col("neighbor_id"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "score_micro",
                    F.col("rank").cast("int").alias("rank")))


def hard_negatives(emb: DataFrame, k: int = 5, max_anchor_id: int = 8,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   label_col: str = "label") -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for
    each anchor, the top-k most-similar corpus vectors with a
    DIFFERENT label — the negatives that actually teach the margin
    (random negatives are trivially separable; the hard ones sit just
    across the boundary). The classic retrieval-training data op
    (DPR / SimCSE / E5 recipes).

    This is the exact (brute-force-scored) baseline, mirroring
    cosine_topk's contract: anchors broadcast (bounded), corpus
    streams, label-inequality prunes BEFORE scoring inside the same
    codegen stage. At 100 TB compose with the pruned families instead
    (ivf_topk / ivfpq_search restricted to probed lists, or
    ann_bucketed_topk) and apply the same label filter — identical
    semantics per candidate set.
    """
    vecs = prenorm(emb, id_col, vec_col)
    lab = emb.select(F.col(id_col), F.col(label_col).alias("_lab"))
    vl = vecs.join(lab, id_col)
    anchors = F.broadcast(
        vl.where(F.col(id_col) < max_anchor_id)
        .select(F.col(id_col).alias("anchor_id"),
                F.col("v").alias("av"), F.col("n").alias("an"),
                F.col("_lab").alias("anchor_label")))
    pairs = (vl.crossJoin(anchors)
             .where((F.col("_lab") != F.col("anchor_label"))
                    & (F.col(id_col) != F.col("anchor_id")))
             .select("anchor_id", "anchor_label",
                     F.col(id_col).alias("negative_id"),
                     F.col("_lab").alias("negative_label"),
                     round6_binary(dot(F.col("v"), F.col("av"))
                                   / (F.col("n") * F.col("an")))
                     .alias("sim")))
    w = Window.partitionBy("anchor_id").orderBy(F.desc("sim"),
                                                F.asc("negative_id"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("anchor_id", "anchor_label", "negative_id",
                    "negative_label", "sim",
                    F.col("rank").cast("int").alias("rank")))


def cluster_cohesion(vecs: DataFrame, centroids: list,
                     id_col: str = "vec_id") -> DataFrame:
    """Clustering-quality report from a fitted model — the cheap
    silhouette stand-in a pipeline tracks when tuning n_centroids for
    IVF/SemDeDup: per cluster, the exact member count and the micro-int
    SUMS of each member's cosine to its OWN centroid and to its
    SECOND-nearest centroid (their difference, ``sep_micro_sum``, is
    the separation margin; a cluster whose members sit nearly as close
    to another centroid is over-split). Sums, not means — integer
    sums are fold-order free and divisions on possibly-negative
    cosines would need sign-dependent rounding; readers divide by
    n_members themselves.

    Scale shape: scoring is MAP-ONLY (one ranked inlined-candidates
    array per row, :func:`_ranked_lists_inline`); the only shuffle is
    the k-row groupBy(cid) with map-side combine. Output is k rows
    regardless of corpus size."""
    ranked = _ranked_lists_inline(centroids, F.col("v"), F.col("n"))
    r = vecs.select(F.col(id_col), ranked.alias("_rk"))
    own = F.element_at(F.col("_rk"), 1)
    snd = F.element_at(F.col("_rk"), 2)
    rows = r.select(own["cid"].alias("cid"),
                    micro(-own["ncs"]).alias("_o"),
                    micro(-snd["ncs"]).alias("_s"))
    return (rows.groupBy("cid")
            .agg(F.count(F.lit(1)).cast("long").alias("n_members"),
                 F.sum("_o").cast("long").alias("own_micro_sum"),
                 F.sum("_s").cast("long").alias("second_micro_sum"))
            .select("cid", "n_members", "own_micro_sum",
                    "second_micro_sum",
                    (F.col("own_micro_sum") - F.col("second_micro_sum"))
                    .cast("long").alias("sep_micro_sum")))


def mauve_eval(p_vecs: DataFrame, q_vecs: DataFrame, fitted: list,
               c: float = 5.0, grid: int = 20) -> DataFrame:
    """MAUVE (Pillutla et al. 2021, NeurIPS '21 outstanding paper)
    between two embedding samples P and Q — the open-ended-generation
    eval that measures BOTH quality (Q concentrated where P is) and
    diversity (Q covers all of P) as the area under a divergence
    frontier, where single-direction KL sees only one failure mode.

    Procedure over a shared k-means quantization (engine variant,
    documented: the quantizer is the session's shared corpus fit
    (``fitted`` — the ivf_trained/semantic_dedup memo) rather than a
    joint P∪Q refit per comparison; same bins for both sides, zero
    extra fit jobs):

      1. every vector -> argmax-cosine cluster (map-only inlined
         literals, :func:`_assign_inline`);
      2. cluster histograms — exact int64 counts per side;
      3. for λ = j/grid, j = 1..grid−1:  R_λ = λP + (1−λ)Q, then
         KL(P‖R_λ) and KL(Q‖R_λ) with per-(cluster, λ) terms
         micro-rounded BEFORE the sum (fold-order free, the cat_drift
         discipline);
      4. curve points (x, y) = (e^{−c·KL(Q‖R)}, e^{−c·KL(P‖R)}) as
         micro-ints, anchored at (1, 0) and (0, 1) (the λ→0/1
         infinite-divergence limits);
      5. MAUVE = area under the curve: the doubled, 1e12-scaled AUC
         is an EXACT int64 sum of trapezoid micro-products — the only
         doubles anywhere are the ln/exp libm-parity chain, and the
         final single divide.

    ONE row out: (n_p, n_q, k_clusters, area2_scaled, mauve).
    Scale: after the map-only assignment everything is dict-sized
    (k ≤ grid·k rows); the corpus is touched exactly once."""
    if grid < 2:
        raise ValueError("mauve_eval: grid must be >= 2")
    w_all = Window.partitionBy()
    w_ord = Window.partitionBy().orderBy("j")

    both = (p_vecs.select(F.lit(0).alias("side"), "v", "n")
            .unionByName(q_vecs.select(F.lit(1).alias("side"), "v", "n")))
    asg = both.select(
        "side", _assign_inline(fitted, F.col("v"), F.col("n")).alias("cid"))
    hist = (asg.groupBy("cid")
            .agg(F.sum(F.when(F.col("side") == 0, F.lit(1))
                       .otherwise(F.lit(0))).cast("long").alias("np"),
                 F.sum("side").cast("long").alias("nq")))
    hist = (hist
            .withColumn("n_p", F.sum("np").over(w_all).cast("long"))
            .withColumn("n_q", F.sum("nq").over(w_all).cast("long"))
            .withColumn("k_clusters",
                        F.count(F.lit(1)).over(w_all).cast("long")))
    hj = hist.withColumn(
        "j", F.explode(F.array(*[F.lit(int(j))
                                 for j in range(1, grid)])))
    lam = F.col("j") / F.lit(float(grid))
    p = F.col("np") / F.col("n_p")
    q = F.col("nq") / F.col("n_q")
    r = lam * p + (F.lit(1.0) - lam) * q
    term_p = F.when(F.col("np") > 0,
                    micro(p * F.log(p / r))).otherwise(F.lit(0))
    term_q = F.when(F.col("nq") > 0,
                    micro(q * F.log(q / r))).otherwise(F.lit(0))
    kl = (hj.select("j", "n_p", "n_q", "k_clusters",
                    term_p.alias("tp"), term_q.alias("tq"))
          .groupBy("j", "n_p", "n_q", "k_clusters")
          .agg(F.sum("tp").cast("long").alias("kl_p_micro"),
               F.sum("tq").cast("long").alias("kl_q_micro")))
    x = F.exp(F.lit(-c) * F.col("kl_q_micro") / F.lit(1000000.0))
    y = F.exp(F.lit(-c) * F.col("kl_p_micro") / F.lit(1000000.0))
    pts = kl.select(
        "j", "n_p", "n_q", "k_clusters",
        F.floor(x * F.lit(1000000.0) + F.lit(0.5)).cast("long")
        .alias("xm"),
        F.floor(y * F.lit(1000000.0) + F.lit(0.5)).cast("long")
        .alias("ym"))
    lx = F.lead("xm").over(w_ord)
    ly = F.lead("ym").over(w_ord)
    M = F.lit(1000000).cast("long")
    seg = (F.when(lx.isNull(),  # last interior point -> (0, 1) anchor
                  F.col("xm") * (F.col("ym") + M))
           .otherwise((F.col("xm") - lx) * (F.col("ym") + ly))
           # first interior point also closes the (1, 0) anchor edge
           + F.when(F.col("j") == 1,
                    (M - F.col("xm")) * F.col("ym"))
           .otherwise(F.lit(0)))
    out = (pts.select("n_p", "n_q", "k_clusters", seg.alias("s"))
           .groupBy("n_p", "n_q", "k_clusters")
           .agg(F.sum("s").cast("long").alias("area2_scaled")))
    mv = F.col("area2_scaled") / F.lit(2000000000000.0)
    return out.select(
        "n_p", "n_q", "k_clusters", "area2_scaled",
        # exact int in, one final 6-dp-rounded divide out
        round6_binary(mv).alias("mauve"))
