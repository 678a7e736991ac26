"""Density-based spatial clustering (PostGIS ``ST_ClusterDBSCAN``).

PostGIS exposes DBSCAN as a window function over an entire partition —
inherently single-node. This module re-expresses it as a distributed
composition of existing scale-safe pieces:

1. eps-neighbor pairs via grid-cell blocking (each point lands in ONE
   cell of width eps; one side explodes to its 3x3 cell neighborhood;
   the join is a shuffle equi-join on the cell key, never a cross
   product) — same shape as ``spatial_join.dwithin_join``;
2. core points by a neighbor-count aggregate (standard DBSCAN counts
   the point itself in its eps-neighborhood);
3. cluster ids by min-label connected components over the core-core
   edge graph (``dedup.connected_components``, the GraphX-style
   iterative join);
4. border points adopt the smallest cluster id among their core
   neighbors (PostGIS assigns border points to *an* adjacent cluster;
   taking the min makes the labeling deterministic and so
   oracle-checkable);
5. everything else is noise: ``cluster`` is NULL, as in PostGIS.

At 100 TB the dominant cost is the pair join, whose per-cell work is
quadratic in cell population. DBSCAN's own parameters bound that: a use
case with eps chosen so that millions of points share one eps-cell has
degenerate clustering anyway (everything is one cluster).
Duplicate-coordinate skew is handled INSIDE the operators (r11):
identical (x, y) points are contracted to one weighted coordinate
group before the pair join (multiplicity only matters through the
neighbor COUNT, which becomes a SUM of weights), members inherit
their group's outcome, and the per-cell pair work becomes quadratic
in DISTINCT coordinates per cell.

No reference counterpart: /root/reference/src has no clustering kernel;
semantics follow PostGIS ST_ClusterDBSCAN (minpoints as the core
threshold, border adoption, NULL for noise).
"""

from __future__ import annotations

from typing import Optional, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from . import util
from .dedup import connected_components

__all__ = ["cluster_within_points", "dbscan_points",
           "eps_neighbor_pairs"]


def eps_neighbor_pairs(df: DataFrame, eps: float, id_col: str = "id",
                       x_col: str = "x", y_col: str = "y",
                       carry: Optional[Sequence[str]] = None) -> DataFrame:
    """All ordered pairs (ia, ib) with euclidean distance <= eps,
    INCLUDING the self-pair (ia == ib, distance 0) — the raw
    eps-neighborhood relation N_eps.

    Each point belongs to exactly one eps-width grid cell; the left
    side explodes to the 9 surrounding cells, so any pair within eps
    (which must lie in adjacent cells) is generated exactly once — no
    distinct() pass. Everything is JVM-side integer/double arithmetic;
    one shuffle on the compact (cx, cy) key.

    ``carry`` lists extra input columns carried through on the *ib*
    side as ``ib<name>`` (e.g. a weight column ``_w`` → ``ib_w``) —
    the weighted-degree hook for the coordinate-group contraction in
    :func:`dbscan_points`.
    """
    if eps <= 0:
        raise ValueError(f"eps_neighbor_pairs: eps must be > 0, got {eps}")
    carry = list(carry or [])
    pts = df.select(F.col(id_col).alias("_pid"),
                    F.col(x_col).cast("double").alias("_px"),
                    F.col(y_col).cast("double").alias("_py"),
                    *[F.col(c) for c in carry])
    cx = F.floor(F.col("_px") / eps)
    cy = F.floor(F.col("_py") / eps)
    three = F.array(F.lit(-1), F.lit(0), F.lit(1))
    left = (pts.select("*", cx.alias("_cx0"), cy.alias("_cy0"))
            .select("*", F.explode(three).alias("_dx"))
            .select("*", F.explode(three).alias("_dy"))
            .select(F.col("_pid").alias("ia"),
                    F.col("_px").alias("_ax"), F.col("_py").alias("_ay"),
                    (F.col("_cx0") + F.col("_dx")).alias("_cx"),
                    (F.col("_cy0") + F.col("_dy")).alias("_cy")))
    right = pts.select(F.col("_pid").alias("ib"),
                       F.col("_px").alias("_bx"), F.col("_py").alias("_by"),
                       cx.alias("_cx"), cy.alias("_cy"),
                       *[F.col(c).alias(f"ib{c}") for c in carry])
    dx = F.col("_ax") - F.col("_bx")
    dy = F.col("_ay") - F.col("_by")
    return (left.join(right, ["_cx", "_cy"])
            .where(dx * dx + dy * dy <= F.lit(float(eps) * float(eps)))
            .select("ia", "ib", *[f"ib{c}" for c in carry]))


def dbscan_points(df: DataFrame, eps: float, min_pts: int,
                  id_col: str = "id", x_col: str = "x",
                  y_col: str = "y") -> DataFrame:
    """Distributed DBSCAN over a point table. Returns one row per input
    point: (id_col, is_core boolean, cluster bigint-or-null).

    ``cluster`` is the MINIMUM point id reachable through the core
    graph (deterministic labeling; PostGIS numbers clusters 0..N-1 in
    window order instead, an ordering a distributed engine should not
    promise). Border points take the min cluster among their core
    neighbors; noise points get NULL.
    """
    if min_pts < 1:
        raise ValueError(f"dbscan_points: min_pts must be >= 1, got {min_pts}")
    pts = df.select(F.col(id_col).alias("_pid"),
                    F.col(x_col).cast("double").alias("_px"),
                    F.col(y_col).cast("double").alias("_py"))
    # COORDINATE-GROUP CONTRACTION (r11 — the duplicate-coordinate
    # pre-aggregation the module docstring prescribes, now built in):
    # points sharing an exact (x, y) have identical eps-neighborhoods,
    # identical core status, and are mutually within eps (distance 0),
    # so the whole algorithm runs on DISTINCT coordinates carrying a
    # weight, and members inherit their group's outcome. Exactness:
    #   deg(point) = Σ weights of coordinate groups within eps
    #                (incl. its own — the self-pair), so is_core is a
    #                group property;
    #   the core point graph and the core GROUP graph have the same
    #   components (same-coordinate core points are mutually linked),
    #   and each group's min member id IS the group id, so min
    #   reachable point id = min reachable group id;
    #   a border point's core neighbors = members of its core
    #   neighbor groups.
    # At scale this is the duplicate-skew kill: per-cell pair work is
    # quadratic in DISTINCT coordinates per cell, not points (the
    # bench lattice has ~8 points per position → 64× fewer pair rows).
    with util.cache_scope() as scope:
        # cached: the pair join's two sides and the member join all
        # scan ``grp``
        grp, _ = scope.cache(pts.groupBy("_px", "_py")
                             .agg(F.min("_pid").alias("_gid"),
                                  F.count(F.lit(1)).alias("_w")))
        gpts = grp.select(F.col("_gid").alias("id"),
                          F.col("_px").alias("x"),
                          F.col("_py").alias("y"), F.col("_w"))
        pairs, _ = scope.cache(eps_neighbor_pairs(gpts, eps, carry=["_w"]))
        mem = pts.join(grp, ["_px", "_py"]).select("_pid", "_gid")
        core, _ = scope.cache(
            pairs.groupBy("ia").agg(F.sum("ib_w").alias("_deg"))
            .where(F.col("_deg") >= min_pts)
            .select(F.col("ia").alias("_core_id")))
        core_edges = (pairs.select("ia", "ib")
                      .join(core.withColumnRenamed("_core_id", "ia"), "ia")
                      .join(core.withColumnRenamed("_core_id", "ib"), "ib"))
        # components gives every core group a label (self-pairs ensure
        # isolated-but-dense groups, e.g. min_pts duplicates at one
        # coordinate, still appear as their own edge).
        comp = connected_components(core_edges, "ia", "ib", max_iter=64,
                                    symmetric=True)
        core_lab = (mem.join(comp.select(F.col("doc_id").alias("_gid"),
                                         F.col("component")), "_gid")
                    .select(F.col("_pid").alias(id_col),
                            F.lit(True).alias("is_core"),
                            F.col("component").alias("cluster")))
        # border: members of non-core groups adopting the min cluster
        # over their core neighbor groups
        bgrp = (pairs.select("ia", "ib")
                .join(core.withColumnRenamed("_core_id", "ib"), "ib")
                .join(core.withColumnRenamed("_core_id", "ia"), "ia",
                      "left_anti")
                .join(comp.select(F.col("doc_id").alias("ib"),
                                  F.col("component")), "ib")
                .groupBy("ia")
                .agg(F.min("component").alias("cluster")))
        border = (mem.join(bgrp.withColumnRenamed("ia", "_gid"), "_gid")
                  .select(F.col("_pid").alias(id_col),
                          F.lit(False).alias("is_core"), "cluster"))
        labeled = core_lab.unionByName(border)
        noise = (pts.select("_pid")
                 .join(labeled.select(F.col(id_col).alias("_pid")),
                       "_pid", "left_anti")
                 .select(F.col("_pid").alias(id_col),
                         F.lit(False).alias("is_core"),
                         F.lit(None).cast("long").alias("cluster")))
        # materialized while the caches it reads are held
        return labeled.unionByName(noise).localCheckpoint(eager=True)


def cluster_within_points(df: DataFrame, d: float, id_col: str = "id",
                          x_col: str = "x", y_col: str = "y") -> DataFrame:
    """PostGIS ``ST_ClusterWithin``: single-linkage clusters joining
    points within distance ``d`` — exactly DBSCAN with min_pts=1
    (every point is core, so there are no borders and no noise).
    Returns (id_col, cluster) with cluster = min reachable point id,
    the same deterministic labeling as :func:`dbscan_points` — and the
    same coordinate-group contraction: components run over DISTINCT
    coordinates, members inherit their group's label (exact: same-
    coordinate points are mutually within d, and each group's min
    member id is the group id)."""
    pts = df.select(F.col(id_col).alias("_pid"),
                    F.col(x_col).cast("double").alias("_px"),
                    F.col(y_col).cast("double").alias("_py"))
    with util.cache_scope() as scope:
        grp, _ = scope.cache(pts.groupBy("_px", "_py")
                             .agg(F.min("_pid").alias("_gid")))
        gpts = grp.select(F.col("_gid").alias("id"),
                          F.col("_px").alias("x"), F.col("_py").alias("y"))
        pairs = eps_neighbor_pairs(gpts, d)
        comp = connected_components(pairs, "ia", "ib", max_iter=64,
                                    symmetric=True)
        return (pts.join(grp, ["_px", "_py"])
                .join(comp.select(F.col("doc_id").alias("_gid"),
                                  F.col("component")), "_gid")
                .select(F.col("_pid").alias(id_col),
                        F.col("component").alias("cluster"))
                .localCheckpoint(eager=True))


def kmeans_points(df: DataFrame, k: int = 4, iters: int = 2,
                  id_col: str = "id", x_col: str = "x",
                  y_col: str = "y") -> DataFrame:
    """PostGIS ``ST_ClusterKMeans`` re-expressed distributed: Euclidean
    Lloyd's over 2-D points with every step SQL-replayable (the same
    determinism discipline as similarity.kmeans_centroids, but L2):

      - seeds = the ``k`` points with the smallest (md5(id), id);
      - assignment = argmin of the squared distance rounded to 6 dp
        (binary half-up), ties to the LOWEST centroid id — MAP-ONLY:
        the k centroids are inlined as a literal candidate array, so
        the per-point argmin happens inside the scan (no crossJoin, no
        per-point shuffle);
      - update = per-cluster coordinate means rounded to 6 dp (empty
        clusters drop out in both engines identically) — the one
        shuffle per round carries k partial sums per map task;
      - ``iters`` update rounds, then one final assignment.

    Unlike similarity.kmeans_centroids (which trains on a bounded
    sample), the fit here stays FULL-corpus: ST_ClusterKMeans parity
    means every point votes in every round, and the oracle unrolls
    exactly that. The per-iteration driver sync is k pairs of doubles
    (centroids re-broadcast), independent of corpus size.
    Returns (id_col, cid) — cluster numbers are seed ranks, PostGIS's
    arbitrary-but-stable integers."""
    from .util import round6_binary
    pts = df.select(F.col(id_col), F.col(x_col).alias("_x"),
                    F.col(y_col).alias("_y")) \
            .where(F.col("_x").isNotNull() & F.col("_y").isNotNull())
    seeds = (pts.orderBy(F.md5(F.col(id_col).cast("string")),
                         F.col(id_col))
             .limit(k).collect())
    cents = [(i, float(r["_x"]), float(r["_y"]))
             for i, r in enumerate(seeds)]

    def assign_expr(cs) -> F.Column:
        cands = F.array(*[
            F.struct(F.lit(cid).alias("cid"), F.lit(cx).alias("cx"),
                     F.lit(cy).alias("cy")) for cid, cx, cy in cs])
        best = F.array_min(F.transform(cands, lambda c: F.struct(
            round6_binary((F.col("_x") - c["cx"]) * (F.col("_x") - c["cx"])
                          + (F.col("_y") - c["cy"]) * (F.col("_y") - c["cy"]))
            .alias("d2"),
            c["cid"].alias("cid"))))
        return best["cid"]

    for _ in range(iters):
        upd = (pts.select(assign_expr(cents).alias("cid"), "_x", "_y")
               .groupBy("cid")
               .agg(round6_binary(F.avg("_x")).alias("cx"),
                    round6_binary(F.avg("_y")).alias("cy"))
               .collect())
        cents = sorted((r["cid"], r["cx"], r["cy"]) for r in upd)
    return pts.select(F.col(id_col), assign_expr(cents).alias("cid"))
