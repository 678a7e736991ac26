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


def _driver_pagerank(pdf, iters: int, damping_pct: int, teleport: int):
    """Exact integer PageRank of a (src, dst) edge table computed
    driver-side — callable only through :func:`pagerank_int`'s
    bounded-size gate. Every operation is the SAME integer op the
    distributed loop runs (`div` on nonnegative int64 == Python `//`;
    sums are order-free), so the returned frame is bit-identical."""
    import pandas as pd
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
    return pd.DataFrame({"id": list(rank), "rank_int": list(rank.values())})


def pagerank_int(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                 iters: int = 3, damping_pct: int = 85) -> DataFrame:
    """Integer PageRank over an UNDIRECTED pair list (each pair becomes
    two directed edges). Returns (id, rank_int) with rank_int in
    micro-units."""
    from pyspark.sql.types import LongType, StructField, StructType
    if not (0 <= damping_pct <= 100):
        raise ValueError("damping_pct must be in [0, 100]")
    teleport = (100 - damping_pct) * SCALE // 100
    with util.cache_scope() as scope:
        e0, n_edges = scope.cache(
            pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
            .unionByName(pairs.select(F.col(id_b).alias("src"),
                                      F.col(id_a).alias("dst")))
            .distinct())
        if 0 < n_edges <= util.DRIVER_MAX_EDGES:
            schema = StructType([StructField("id", e0.schema["src"].dataType),
                                 StructField("rank_int", LongType())])
            return util.driver_finish(
                e0, lambda pdf: _driver_pagerank(pdf, iters, damping_pct,
                                                 teleport), schema)
        # cached pre-partitioned by src (r11, guide §2.4 — the CC
        # discipline): every iteration's edges⋈share join and the degree
        # aggregate reuse the cached partitioning, so the edge relation
        # is shuffled once per CALL instead of once per iteration
        edges, _ = scope.cache(e0.repartition("src"))
        scope.release(e0)
        # deg rides INSIDE the ranks frame (r11, guide §2.4): the r10 loop
        # re-joined deg onto the edge⋈rank row every round AND ran a
        # separate left-join fallback — two extra shuffle joins per
        # iteration. Per-vertex shares are now computed map-side on ranks,
        # and the deg⋈sums left join both re-attaches deg and restores
        # vertices that received nothing (teleport floor: coalesce(s, 0)).
        deg, _ = scope.cache(edges.groupBy("src")
                             .agg(F.count("*").alias("deg")))
        ranks = deg.select("src", "deg",
                           F.lit(SCALE).cast("long").alias("rank_int"))
        for _ in range(iters):
            share = ranks.select("src",
                                 F.expr("rank_int div deg").alias("c"))
            sums = (edges.join(share, "src")
                    .groupBy("dst").agg(F.sum("c").alias("s")))
            ranks = (deg.join(sums, deg.src == sums.dst, "left")
                     .select(deg.src.alias("src"), "deg",
                             (F.lit(teleport)
                              + F.expr(f"({damping_pct} * coalesce(s, 0L))"
                                       f" div 100"))
                             .cast("long").alias("rank_int")))
        # eager checkpoint cuts the iters-deep unrolled lineage
        return (ranks.select(F.col("src").alias("id"), "rank_int")
                .localCheckpoint(eager=True))


def _driver_graph_stats(pdf):
    """Exact (n_vertices, n_edges, max_degree, n_triangles) of an
    ORIENTED (a < b, deduplicated) edge table, computed driver-side
    — callable only through :func:`graph_stats`'s bounded-size gate.
    Triangles: each a<b<c triangle is counted once at its (a, b) edge
    as |adj(a) ∩ adj(b)| over greater-neighbor sets — the identical
    enumeration the distributed wedge join runs."""
    import pandas as pd
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
    return pd.DataFrame({"n_vertices": [len(deg)], "n_edges": [len(aa)],
                         "max_degree": [max(deg.values())],
                         "n_triangles": [tris]})


def graph_stats(pairs: DataFrame, id_a: str = "id_a",
                id_b: str = "id_b") -> DataFrame:
    """One-row structural profile of an undirected pair graph:
    vertex/edge counts, max degree, and the exact triangle count via
    the canonical two-join enumeration over ORIENTED edges (each
    triangle a<b<c counted exactly once: (a,b)⋈(b,c)⋈(a,c)) — the
    standard distributed triangle algorithm, two shuffle joins on
    vertex keys."""
    with util.cache_scope() as scope:
        # cached: six subtrees of the one-row action scan ``e``
        e, n_edges = scope.cache(
            pairs.select(F.least(F.col(id_a), F.col(id_b)).alias("a"),
                         F.greatest(F.col(id_a), F.col(id_b)).alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct())
        # r12 bounded driver finish (the connected_components/pagerank_int
        # discipline): at or under the edge cap, the four exact-integer
        # stats come from one bulk transfer — the distributed form pays a
        # degree aggregate, a wedge self-join, a closing-edge join and
        # three one-row aggregates of per-job latency on graphs whose pair
        # stage already bounds |E|. Set intersection over greater-neighbor
        # adjacency is the same a<b<c enumeration the two-join form runs.
        if 0 < n_edges <= util.DRIVER_MAX_EDGES:
            return util.driver_finish(
                e, _driver_graph_stats,
                "n_vertices long not null, n_edges long not null, "
                "max_degree long, n_triangles long not null")
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
        # one-row result: materialized while the edge cache is held
        return (n_v.crossJoin(n_e).crossJoin(n_t)
                .select("n_vertices", "n_edges", "max_degree",
                        "n_triangles")
                .localCheckpoint(eager=True))
