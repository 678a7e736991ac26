"""Graph analytics over similarity graphs — integer-exact PageRank.

PageRank in floating point is not reproducible across engines or
partitionings (per-vertex sums change order). This implementation works
ENTIRELY in scaled integers: ranks start at 10^6 micro-units, each
round a vertex sends ``rank // degree`` to every neighbor (integer
floor division — exact, order-independent), and the update is

    rank' = (teleport_pct · 10^6) // 100 + (damping_pct · Σ contrib) // 100

so every intermediate is an int64 and the result is a pure function of
the edge set and iteration count. The usual float PageRank is recovered
by dividing by 10^6; rank ORDER (the thing consumers use) matches the
float version except at sub-micro-unit ties, which float wouldn't
resolve portably anyway.

Scale shape per iteration: one shuffle join edges⋈ranks on the source
id + one grouped SUM on the destination — the GraphX/Pregel cost, with
AQE free to re-plan skewed vertices. Iterations are fixed (the oracle
unrolls the same count)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from . import util

SCALE = 1_000_000


def _driver_pagerank(spark, edges: DataFrame, iters: int,
                     damping_pct: int, teleport: int) -> DataFrame:
    """Exact integer PageRank of a (src, dst) edge relation computed
    driver-side — callable only through :func:`pagerank_int`'s
    bounded-size gate. Every operation is the SAME integer op the
    distributed loop runs (`div` on nonnegative int64 == Python `//`;
    sums are order-free), so the returned frame is bit-identical."""
    from pyspark.sql.types import LongType, StructField, StructType
    vtype = edges.schema["src"].dataType
    pdf = edges.toPandas()
    srcs = pdf["src"].tolist()
    dsts = pdf["dst"].tolist()
    deg: dict = {}
    for a in srcs:
        deg[a] = deg.get(a, 0) + 1
    rank = {v: SCALE for v in deg}
    for _ in range(iters):
        sums: dict = {}
        for a, b in zip(srcs, dsts):
            sums[b] = sums.get(b, 0) + rank[a] // deg[a]
        rank = {v: teleport + (damping_pct * sums.get(v, 0)) // 100
                for v in deg}
    schema = StructType([StructField("id", vtype),
                         StructField("rank_int", LongType())])
    return spark.createDataFrame(list(rank.items()), schema)


def pagerank_int(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                 iters: int = 3, damping_pct: int = 85) -> DataFrame:
    """Integer PageRank over an UNDIRECTED pair list (each pair becomes
    two directed edges). Returns (id, rank_int) with rank_int in
    micro-units."""
    if not (0 <= damping_pct <= 100):
        raise ValueError("damping_pct must be in [0, 100]")
    teleport = (100 - damping_pct) * SCALE // 100
    # cached pre-partitioned by src (r11, guide §2.4 — the CC
    # discipline): every iteration's edges⋈share join and the degree
    # aggregate reuse the cached partitioning, so the edge relation is
    # shuffled once per CALL instead of once per iteration
    e0 = (pairs.select(F.col(id_a).alias("src"),
                       F.col(id_b).alias("dst"))
          .unionByName(pairs.select(F.col(id_b).alias("src"),
                                    F.col(id_a).alias("dst")))
          .distinct().persist())
    n_edges = e0.count()
    if 0 < n_edges <= util.DRIVER_MAX_EDGES:
        try:
            return _driver_pagerank(pairs.sparkSession, e0, iters,
                                    damping_pct, teleport)
        finally:
            e0.unpersist()
    edges = e0.repartition("src").persist()
    # deg rides INSIDE the ranks frame (r11, guide §2.4): the r10 loop
    # re-joined deg onto the edge⋈rank row every round AND ran a
    # separate left-join fallback — two extra shuffle joins per
    # iteration. Per-vertex shares are now computed map-side on ranks,
    # and the deg⋈sums left join both re-attaches deg and restores
    # vertices that received nothing (teleport floor: coalesce(s, 0)).
    deg = edges.groupBy("src").agg(F.count("*").alias("deg")).persist()
    # eager materialization (lazy-persist race, see dedup.py
    # jaccard_prefix_pairs): the unrolled ``iters``-round plan is ONE
    # action; its first round scans ``edges`` and ``deg`` from parallel
    # stages, each re-running the upstream pair pipeline if the cache
    # has not landed yet
    deg.count()
    e0.unpersist()  # edges' repartitioned cache is materialized now
    ranks = deg.select("src", "deg",
                       F.lit(SCALE).cast("long").alias("rank_int"))
    for _ in range(iters):
        share = ranks.select("src", F.expr("rank_int div deg").alias("c"))
        sums = (edges.join(share, "src")
                .groupBy("dst").agg(F.sum("c").alias("s")))
        ranks = (deg.join(sums, deg.src == sums.dst, "left")
                 .select(deg.src.alias("src"), "deg",
                         (F.lit(teleport)
                          + F.expr(f"({damping_pct} * coalesce(s, 0L))"
                                   f" div 100"))
                         .cast("long").alias("rank_int")))
    # eager checkpoint cuts the iters-deep unrolled lineage AND lets the
    # edges cache be released now instead of leaking across calls
    out = (ranks.select(F.col("src").alias("id"), "rank_int")
           .localCheckpoint(eager=True))
    edges.unpersist()
    deg.unpersist()
    return out


def _driver_graph_stats(spark, e: DataFrame) -> DataFrame:
    """Exact (n_vertices, n_edges, max_degree, n_triangles) of an
    ORIENTED (a < b, deduplicated) edge relation, computed driver-side
    — callable only through :func:`graph_stats`'s bounded-size gate.
    Triangles: each a<b<c triangle is counted once at its (a, b) edge
    as |adj(a) ∩ adj(b)| over greater-neighbor sets — the identical
    enumeration the distributed wedge join runs."""
    from pyspark.sql.types import LongType, StructField, StructType
    pdf = e.toPandas()
    aa = pdf["a"].tolist()
    bb = pdf["b"].tolist()
    deg: dict = {}
    adj: dict = {}
    for a, b in zip(aa, bb):
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
        adj.setdefault(a, set()).add(b)
    tris = 0
    empty: set = set()
    for a, b in zip(aa, bb):
        tris += len(adj[a] & adj.get(b, empty))
    schema = StructType([StructField("n_vertices", LongType(), False),
                         StructField("n_edges", LongType(), False),
                         StructField("max_degree", LongType(), True),
                         StructField("n_triangles", LongType(), False)])
    return spark.createDataFrame(
        [(len(deg), len(aa), max(deg.values()), tris)], schema)


def graph_stats(pairs: DataFrame, id_a: str = "id_a",
                id_b: str = "id_b") -> DataFrame:
    """One-row structural profile of an undirected pair graph:
    vertex/edge counts, max degree, and the exact triangle count via
    the canonical two-join enumeration over ORIENTED edges (each
    triangle a<b<c counted exactly once: (a,b)⋈(b,c)⋈(a,c)) — the
    standard distributed triangle algorithm, two shuffle joins on
    vertex keys."""
    e = (pairs.select(F.least(F.col(id_a), F.col(id_b)).alias("a"),
                      F.greatest(F.col(id_a), F.col(id_b)).alias("b"))
         .where(F.col("a") != F.col("b"))
         .distinct().persist())
    # eager: six subtrees of the one-row action scan ``e`` as parallel
    # stages (lazy-persist race — see dedup.py jaccard_prefix_pairs)
    n_edges = e.count()
    # r12 bounded driver finish (the connected_components/pagerank_int
    # discipline): at or under the edge cap, the four exact-integer
    # stats come from one bulk transfer — the distributed form pays a
    # degree aggregate, a wedge self-join, a closing-edge join and
    # three one-row aggregates of per-job latency on graphs whose pair
    # stage already bounds |E|. Set intersection over greater-neighbor
    # adjacency is the same a<b<c enumeration the two-join form runs.
    if 0 < n_edges <= util.DRIVER_MAX_EDGES:
        try:
            return _driver_graph_stats(pairs.sparkSession, e)
        finally:
            e.unpersist()
    verts = (e.select(F.col("a").alias("v"))
             .unionByName(e.select(F.col("b").alias("v"))))
    deg = verts.groupBy("v").agg(F.count("*").alias("deg"))
    wedges = (e.alias("e1")
              .join(e.alias("e2"), F.col("e1.b") == F.col("e2.a"))
              .select(F.col("e1.a").alias("wa"),
                      F.col("e1.b").alias("wb"),
                      F.col("e2.b").alias("wc")))
    tris = wedges.join(
        e.alias("e3"),
        (F.col("wa") == F.col("e3.a")) & (F.col("wc") == F.col("e3.b")))
    n_v = deg.agg(F.count("*").alias("n_vertices"),
                  F.max("deg").alias("max_degree"))
    n_e = e.agg(F.count("*").alias("n_edges"))
    n_t = tris.agg(F.count("*").alias("n_triangles"))
    # one-row result: materialize eagerly so the oriented-edge cache
    # can be released instead of leaking across calls
    out = (n_v.crossJoin(n_e).crossJoin(n_t)
           .select("n_vertices", "n_edges", "max_degree", "n_triangles")
           .localCheckpoint(eager=True))
    e.unpersist()
    return out
