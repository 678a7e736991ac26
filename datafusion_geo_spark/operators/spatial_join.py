"""Spatial join strategies.

The reference ships an R-tree utility that is never wired into a planner
(/root/reference/src/geo/index.rs:23-33 — SURVEY.md §2 calls this out);
its intended use is accelerating ``t1 JOIN t2 ON ST_Intersects(...)``.
Here both scale strategies are first-class operators:

1. ``broadcast_bbox_join`` — small×big: a NATIVE bbox-overlap range
   condition (JVM, no Python) prefilters the BroadcastNestedLoopJoin;
   the exact pandas-UDF predicate refines only surviving pairs. This is
   the Catalyst-friendly PostGIS ``&&``-then-exact pattern (SURVEY.md §4.2).
2. ``grid_join`` — big×big: both sides explode their bbox into covering
   grid cells, the join becomes a shuffle equi-join on (cx, cy), and a
   reported pair is counted only in the canonical cell of its bbox
   intersection (no post-join dedup shuffle needed at scale). Exact
   predicate refines per pair.

Both avoid evaluating the exact geometry predicate on the cross product —
the thing that cannot survive 100 TB.
"""

from __future__ import annotations

from typing import Optional

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..functions import box2d, st_intersects
from . import util

BBOX_COLS = ("xmin", "ymin", "xmax", "ymax")

# Per-block cell budget for the cogrouped join's candidate matrix
# (bool bytes per intermediate array); 1<<24 = 16M cells ≈ 16 MB.
MATRIX_BLOCK_CELLS = 1 << 24

# broadcast_bbox_join snapshots the small side on the driver; above this
# many rows refuse loudly instead of OOMing the driver (a side this big
# should go through grid_join / cogrouped_grid_join instead).
MAX_SNAPSHOT_ROWS = 2_000_000


def ensure_bbox(df: DataFrame, geom_col: str = "geom") -> DataFrame:
    """Materialize bbox columns from the geometry once (single Python
    crossing) unless native xmin..ymax columns already exist."""
    if all(c in df.columns for c in BBOX_COLS):
        return df
    b = box2d(F.col(geom_col))
    out = df.withColumn("_bbox", b)
    for c in BBOX_COLS:
        out = out.withColumn(c, F.col(f"_bbox.{c}"))
    return out.drop("_bbox")


def _bbox_overlap(l: str, r: str) -> Column:
    """Null-TOLERANT bbox overlap: each conjunct coalesces the min side
    to +inf and the max side to -inf, so null bboxes simply never match.
    Deliberate: a null-intolerant condition makes Catalyst infer
    IsNotNull constraints on the UDF-derived bbox columns and DUPLICATE
    the box2d ArrowEvalPython node (one for the inferred filter, one for
    the projection) — two full Python passes over the big side."""
    def lo(c):  # min-side: null -> +inf (can never be <= anything real)
        return F.coalesce(F.col(c), F.lit(float("inf")))

    def hi(c):  # max-side: null -> -inf
        return F.coalesce(F.col(c), F.lit(float("-inf")))

    return ((lo(f"{l}.xmin") <= hi(f"{r}.xmax"))
            & (lo(f"{r}.xmin") <= hi(f"{l}.xmax"))
            & (lo(f"{l}.ymin") <= hi(f"{r}.ymax"))
            & (lo(f"{r}.ymin") <= hi(f"{l}.ymax")))


def broadcast_bbox_join(big: DataFrame, small: DataFrame,
                        geom_big: str = "geom", geom_small: str = "geom",
                        exact: bool = True,
                        snapshot_small: bool = True) -> DataFrame:
    """Inner spatial join (ST_Intersects semantics), small side broadcast.

    The bbox overlap runs as a native join condition inside the
    BroadcastNestedLoopJoin (WholeStageCodegen); only pairs passing it
    reach the Python predicate. Result carries all columns of both inputs
    (bbox helper columns suffixed).

    ``snapshot_small`` collects the small side once and rebuilds it as a
    local DataFrame. A broadcast plan containing a pandas UDF re-evaluates
    that UDF (fresh Python stage) on EVERY action that reuses the join —
    measured ~2-6 s per action for a 25-row side — whereas the snapshot is
    UDF-free and broadcasts in ms. The collect is bounded: more than
    ``max_snapshot_rows`` rows raises instead of OOMing the driver (the
    limit+1 fetch stops the scan early, it never pulls the full side).
    For a result evaluated exactly ONCE, pass ``snapshot_small=False``:
    the collect+recreate is ~0.1 s of pure fixed cost in that case
    (round-4 interleaved A/B, BASELINE.md spatial_join row) — default
    True because reuse-across-actions is the common case and the trap
    is silent."""
    b = ensure_bbox(big, geom_big).alias("b")
    s_df = ensure_bbox(small, geom_small)
    if snapshot_small:
        rows = s_df.limit(MAX_SNAPSHOT_ROWS + 1).collect()
        if len(rows) > MAX_SNAPSHOT_ROWS:
            raise ValueError(
                f"broadcast_bbox_join: small side exceeds "
                f"{MAX_SNAPSHOT_ROWS} rows; use grid_join / "
                f"cogrouped_grid_join for big×big inputs, or pass "
                f"snapshot_small=False to keep it distributed")
        s_df = s_df.sparkSession.createDataFrame(rows, s_df.schema)
    s = F.broadcast(s_df).alias("s")
    cond = _bbox_overlap("b", "s")
    joined = b.join(s, cond)
    if exact:
        joined = joined.where(st_intersects(F.col(f"b.{geom_big}"),
                                            F.col(f"s.{geom_small}")))
    return joined


def _cells(prefix: str, cell: float) -> Column:
    """Covering grid cells of a bbox as array<struct<cx,cy>>."""
    cxs = F.sequence(F.floor(F.col(f"{prefix}xmin") / cell).cast("long"),
                     F.floor(F.col(f"{prefix}xmax") / cell).cast("long"))
    cys = F.sequence(F.floor(F.col(f"{prefix}ymin") / cell).cast("long"),
                     F.floor(F.col(f"{prefix}ymax") / cell).cast("long"))
    return F.flatten(F.transform(
        cxs, lambda cx: F.transform(cys, lambda cy: F.struct(
            cx.alias("cx"), cy.alias("cy")))))


def grid_join(a: DataFrame, b: DataFrame, cell: float = 8.0,
              geom_a: str = "geom", geom_b: str = "geom",
              exact: bool = True) -> DataFrame:
    """Big×big spatial join partitioned by grid cell.

    Each side replicates rows into every covering cell (bounded fan-out
    ~ (bbox/cell + 1)²), the join is a shuffle equi-join on (cx, cy), and
    duplicates across shared cells are eliminated *locally* by keeping a
    pair only in the canonical cell containing (max(xmin), max(ymin)) of
    the two bboxes — no distinct() shuffle afterwards. Skewed cells can be
    handled by AQE skew-join splitting (enabled in this engine's sessions).
    """
    ea = (ensure_bbox(a, geom_a)
          .withColumn("_cell", F.explode(_cells("", cell)))
          .select(F.col("_cell.cx").alias("cx"), F.col("_cell.cy").alias("cy"),
                  F.struct(*[F.col(c) for c in a.columns],
                           *[F.col(c) for c in BBOX_COLS if c not in a.columns])
                  .alias("la")))
    eb = (ensure_bbox(b, geom_b)
          .withColumn("_cell", F.explode(_cells("", cell)))
          .select(F.col("_cell.cx").alias("cx"), F.col("_cell.cy").alias("cy"),
                  F.struct(*[F.col(c) for c in b.columns],
                           *[F.col(c) for c in BBOX_COLS if c not in b.columns])
                  .alias("rb")))
    j = ea.join(eb, ["cx", "cy"])
    overlap = ((F.col("la.xmin") <= F.col("rb.xmax"))
               & (F.col("rb.xmin") <= F.col("la.xmax"))
               & (F.col("la.ymin") <= F.col("rb.ymax"))
               & (F.col("rb.ymin") <= F.col("la.ymax")))
    canonical = (
        (F.col("cx") == F.floor(F.greatest(F.col("la.xmin"), F.col("rb.xmin")) / cell))
        & (F.col("cy") == F.floor(F.greatest(F.col("la.ymin"), F.col("rb.ymin")) / cell)))
    j = j.where(overlap & canonical)
    if exact:
        j = j.where(st_intersects(F.col(f"la.{geom_a}"), F.col(f"rb.{geom_b}")))
    return j


def _cell_true_pairs(key, la, rb, cell: float):
    """Shared kernel of the cogrouped strategies: index arrays
    (ia, ib) of the TRUE intersecting pairs among one cell's members
    whose canonical cell is ``key`` (bbox-overlap candidates in
    bounded bool-matrix blocks, exact refinement on survivors). See
    ``cogrouped_grid_join`` for the algorithmic notes; the block loop
    bounds memory at ~MATRIX_BLOCK_CELLS bool bytes per intermediate."""
    import numpy as np

    from ..geo import algos, vector
    from ..geo.wkb import from_wkb

    na, nb = len(la), len(rb)
    e = np.empty(0, dtype=int)
    if na == 0 or nb == 0:
        return e, e
    cx, cy = key
    ax0 = la["xmin"].to_numpy(float); ay0 = la["ymin"].to_numpy(float)
    ax1 = la["xmax"].to_numpy(float); ay1 = la["ymax"].to_numpy(float)
    bx0 = rb["xmin"].to_numpy(float); by0 = rb["ymin"].to_numpy(float)
    bx1 = rb["xmax"].to_numpy(float); by1 = rb["ymax"].to_numpy(float)
    # canonical-cell test decomposed into 1-D predicates via the exact
    # identity floor(max(a,b)/cell) = max(floor(a/cell), floor(b/cell))
    fxa = np.floor(ax0 / cell)
    fya = np.floor(ay0 / cell)
    fxb = np.floor(bx0 / cell)
    fyb = np.floor(by0 / cell)
    axe, axle = fxa == cx, fxa <= cx
    bxe, bxle = fxb == cx, fxb <= cx
    aye, ayle = fya == cy, fya <= cy
    bye, byle = fyb == cy, fyb <= cy
    ia_parts, ib_parts = [], []
    step_a = max(1, MATRIX_BLOCK_CELLS // max(nb, 1))
    for a0 in range(0, na, step_a):
        a1 = min(a0 + step_a, na)
        ov = (ax0[a0:a1, None] <= bx1[None, :])
        ov &= (bx0[None, :] <= ax1[a0:a1, None])
        ov &= (ay0[a0:a1, None] <= by1[None, :])
        ov &= (by0[None, :] <= ay1[a0:a1, None])
        ov &= ((axe[a0:a1, None] & bxle[None, :])
               | (axle[a0:a1, None] & bxe[None, :]))
        ov &= ((aye[a0:a1, None] & byle[None, :])
               | (ayle[a0:a1, None] & bye[None, :]))
        pa, pb = np.nonzero(ov)
        ia_parts.append(pa + a0)
        ib_parts.append(pb)
    ia = np.concatenate(ia_parts) if ia_parts else e
    ib = np.concatenate(ib_parts) if ib_parts else e
    if len(ia) == 0:
        return e, e
    # exact refinement on surviving candidates
    ga = la["_geom"].tolist()
    gb = rb["_geom"].tolist()
    la_b = vector.decode(ga)
    rb_b = vector.decode(gb)
    if la_b is not None and rb_b is not None \
            and la_b.typ == rb_b.typ == "LineString":
        keep = vector.lines_intersect_lines(la_b, rb_b, ia, ib)
        keep &= la_b.valid[ia] & rb_b.valid[ib]
    else:  # mixed geometry: object path with per-pair memo
        memo = {}
        keep = np.zeros(len(ia), dtype=bool)
        for t in range(len(ia)):
            wa, wb = ga[ia[t]], gb[ib[t]]
            if wa is None or wb is None:
                continue
            k2 = (bytes(wa), bytes(wb))
            r = memo.get(k2)
            if r is None:
                r = memo[k2] = algos.intersects(from_wkb(k2[0]),
                                                from_wkb(k2[1]))
            keep[t] = r
    return ia[keep], ib[keep]


def _explode_to_cells(df, geom_col, keep, cell: float):
    """One side's rows replicated into covering cells with the narrow
    ``keep`` columns + bbox + geometry — shared by the cogrouped
    strategies."""
    return (ensure_bbox(df, geom_col)
            .withColumn("_cell", F.explode(_cells("", cell)))
            .select(F.col("_cell.cx").alias("cx"),
                    F.col("_cell.cy").alias("cy"),
                    F.col(geom_col).alias("_geom"),
                    *[F.col(c) for c in keep],
                    *[F.col(c) for c in BBOX_COLS if c not in keep]))


def _cogroup_partitions(a: DataFrame, num_partitions: Optional[int]) -> int:
    """Explicit cogroup shuffle width (see the REPARTITION_BY_NUM note
    in cogrouped_grid_join)."""
    if num_partitions is not None:
        return num_partitions
    return int(
        a.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))


def cogrouped_grid_join(a: DataFrame, b: DataFrame, cell: float = 8.0,
                        geom_a: str = "geom", geom_b: str = "geom",
                        a_cols: Optional[list] = None,
                        b_cols: Optional[list] = None,
                        num_partitions: Optional[int] = None) -> DataFrame:
    """Big×big spatial join as a COGROUP over grid cells
    (``groupBy(cell).cogroup(...).applyInPandas``).

    Same semantics as ``grid_join(exact=True)`` but a different transfer
    profile: each cell's member rows cross into Python ONCE (input ∝
    rows × replication), and the emitted pairs carry only the requested
    narrow columns — versus the equi-join plan, which materializes every
    candidate pair's full payload (incl. both WKB geometries) through
    the exact-filter UDF (output ∝ candidate pairs × geometry size).
    Wins when candidate pairs ≫ rows, i.e. dense data; measured ~2×
    on the 24M-candidate bench query. Per-cell pair finding runs
    vectorized: numpy outer bbox overlap + canonical-cell dedup, exact
    refinement via the uniform-line batch kernel with an object-path
    fallback.
    """
    import pandas as pd

    a_cols = list(a_cols or [c for c in a.columns if c != geom_a])
    b_cols = list(b_cols or [c for c in b.columns if c != geom_b])

    # Pin the cogroup's shuffle width with an explicitly-NUMBERED
    # repartition on the cell keys. AQE's bytes-based coalescing sees
    # only the tiny bbox rows entering the shuffle — not the quadratic
    # candidate work inside the cogroup — and collapses the Python stage
    # to ONE task (measured: whole 24M-candidate bench query in a single
    # partition). A REPARTITION_BY_NUM shuffle is exempt from AQE
    # coalescing, and EnsureRequirements reuses it for the cogroup
    # (same hash partitioning on cx,cy → no second exchange).
    num_partitions = _cogroup_partitions(a, num_partitions)
    ea = _explode_to_cells(a, geom_a, a_cols, cell) \
        .repartition(num_partitions, "cx", "cy")
    eb = _explode_to_cells(b, geom_b, b_cols, cell) \
        .repartition(num_partitions, "cx", "cy")

    out_fields = ", ".join(
        [f"{c} {t}" for c, t in
         [(f.name, f.dataType.simpleString()) for f in a.schema.fields
          if f.name in a_cols]]
        + [f"{c} {t}" for c, t in
           [(f.name, f.dataType.simpleString()) for f in b.schema.fields
            if f.name in b_cols]])

    def find_pairs(key, la: pd.DataFrame, rb: pd.DataFrame) -> pd.DataFrame:
        # outer bbox overlap + canonical cell (dedup across shared
        # cells) + exact refinement — the shared kernel; see
        # _cell_true_pairs for the bounded-block / bool-matrix notes
        ia, ib = _cell_true_pairs(key, la, rb, cell)
        if len(ia) == 0:
            return pd.DataFrame({c: [] for c in a_cols + b_cols})
        out = {c: la[c].to_numpy()[ia] for c in a_cols}
        out.update({c: rb[c].to_numpy()[ib] for c in b_cols})
        return pd.DataFrame(out)

    return (ea.groupBy("cx", "cy")
            .cogroup(eb.groupBy("cx", "cy"))
            .applyInPandas(find_pairs, out_fields))


def cogrouped_grid_join_grouped(a: DataFrame, b: DataFrame,
                                group_of, a_key: str, b_key: str,
                                cell: float = 8.0,
                                geom_a: str = "geom", geom_b: str = "geom",
                                a_cols: Optional[list] = None,
                                b_cols: Optional[list] = None,
                                num_partitions: Optional[int] = None
                                ) -> DataFrame:
    """``cogrouped_grid_join`` FUSED with per-cell partial aggregation
    (guide §2.3 "aggregate before you shuffle" / §8 "shuffle
    lightweight proxies"): for pair-GROUP statistics the caller does
    not need the pair list — only, per group, the pair count and the
    distinct participating keys. Emitting those per cell shrinks the
    Python→JVM transfer and the downstream shuffle from O(true pairs)
    to O(groups + distinct keys per cell): on the bench's
    grid_spatial_join (24M candidates → 12M true pairs) the cogroup
    output drops ~8× and the multi-countDistinct Expand shrinks with
    it.

    ``group_of(la, rb, ia, ib)`` maps matched index arrays to an int64
    group id per pair (numpy, vectorized). Output rows per cell and
    group g: one (g, NULL, NULL, n_pairs) count row, one
    (g, a_id, NULL, 0) row per distinct participating ``a_key``, and
    one (g, NULL, b_id, 0) row per distinct ``b_key``. Exact global
    recovery (cross-cell dedup happens in the JVM aggregate):

    * pairs per group  = SUM(n_pairs)         (canonical-cell dedup
      already makes every true pair count once globally);
    * distinct a per group = COUNT(DISTINCT a_id)  (NULLs ignored);
    * distinct b per group = COUNT(DISTINCT b_id).
    """
    import numpy as np
    import pandas as pd

    a_cols = list(a_cols or [a_key])
    b_cols = list(b_cols or [b_key])
    num_partitions = _cogroup_partitions(a, num_partitions)
    ea = _explode_to_cells(a, geom_a, a_cols, cell) \
        .repartition(num_partitions, "cx", "cy")
    eb = _explode_to_cells(b, geom_b, b_cols, cell) \
        .repartition(num_partitions, "cx", "cy")

    def cell_stats(key, la: pd.DataFrame, rb: pd.DataFrame) -> pd.DataFrame:
        ia, ib = _cell_true_pairs(key, la, rb, cell)
        if len(ia) == 0:
            z = np.empty(0, dtype=np.int64)
            zm = np.empty(0, dtype=bool)
            return pd.DataFrame({
                "grp": z, "a_id": pd.arrays.IntegerArray(z, zm),
                "b_id": pd.arrays.IntegerArray(z, zm),
                "n_pairs": z})
        grp = np.asarray(group_of(la, rb, ia, ib), dtype=np.int64)
        aid = la[a_key].to_numpy()[ia].astype(np.int64)
        bid = rb[b_key].to_numpy()[ib].astype(np.int64)
        ug, inv = np.unique(grp, return_inverse=True)
        cnt = np.bincount(inv, minlength=len(ug))

        def grp_distinct(ids):
            # distinct (group, id) via ONE flat int64 unique: factorize
            # ids (sort of the small per-cell id set + searchsorted),
            # combine with the group ordinal, unique the combined key.
            # ~5-10x cheaper than np.unique(axis=0), whose structured
            # view forces a slow lexsort over 2-D rows.
            uid = np.unique(ids)
            comb = inv * np.int64(len(uid)) + np.searchsorted(uid, ids)
            uc = np.unique(comb)
            return ug[uc // len(uid)], uid[uc % len(uid)]
        ga = grp_distinct(aid)
        gb = grp_distinct(bid)
        nu, na_, nb_ = len(ug), len(ga[0]), len(gb[0])
        grp_out = np.concatenate([ug, ga[0], gb[0]])
        a_vals = np.concatenate([np.zeros(nu, np.int64), ga[1],
                                 np.zeros(nb_, np.int64)])
        a_mask = np.concatenate([np.ones(nu, bool), np.zeros(na_, bool),
                                 np.ones(nb_, bool)])
        b_vals = np.concatenate([np.zeros(nu + na_, np.int64), gb[1]])
        b_mask = np.concatenate([np.ones(nu + na_, bool),
                                 np.zeros(nb_, bool)])
        pairs_out = np.concatenate([cnt.astype(np.int64),
                                    np.zeros(na_ + nb_, np.int64)])
        return pd.DataFrame({
            "grp": grp_out,
            "a_id": pd.arrays.IntegerArray(a_vals, a_mask),
            "b_id": pd.arrays.IntegerArray(b_vals, b_mask),
            "n_pairs": pairs_out})

    return (ea.groupBy("cx", "cy")
            .cogroup(eb.groupBy("cx", "cy"))
            .applyInPandas(cell_stats,
                           "grp long, a_id long, b_id long, n_pairs long"))


def dwithin_join(a: DataFrame, b: DataFrame, d: float,
                 cell: Optional[float] = None,
                 geom_a: str = "geom", geom_b: str = "geom",
                 points_native: bool = False) -> DataFrame:
    """Distance-band join: pairs with ST_DWithin(geom_a, geom_b, d) —
    the PostGIS ``ST_DWithin(a.geom, b.geom, d)`` join, planned like
    grid_join instead of a cross product.

    Side a's bbox is EXPANDED by ``d`` before cell covering, so a bbox
    band overlap against side b's raw bbox is exactly the "bbox gap
    <= d" candidate condition; the join is a shuffle equi-join on
    (cx, cy) with the canonical-cell local dedup (no distinct()
    shuffle). ``cell`` defaults to max(2d, 8) so the band adds at most
    one extra covering cell per axis.

    Refinement: ``points_native=True`` declares BOTH geometry columns
    to be 2-D points (their bbox is the point itself), compiling the
    exact distance to a JVM-side sqrt over the bbox corners — zero
    Python in the whole join. Otherwise the exact pandas-UDF
    ST_DWithin refines surviving candidate pairs only.
    """
    if d < 0:
        raise ValueError(f"dwithin_join: negative distance {d}")
    if cell is None:
        cell = max(2.0 * d, 8.0)
    band = [("_xmin", "xmin", -d), ("_ymin", "ymin", -d),
            ("_xmax", "xmax", d), ("_ymax", "ymax", d)]
    ea = ensure_bbox(a, geom_a)
    for bc, src, off in band:
        ea = ea.withColumn(bc, F.col(src) + off)
    ea = (ea.withColumn("_cell", F.explode(_cells("_", cell)))
          .select(F.col("_cell.cx").alias("cx"),
                  F.col("_cell.cy").alias("cy"),
                  F.struct(*[F.col(c) for c in a.columns],
                           *[F.col(c) for c in BBOX_COLS if c not in a.columns],
                           *[F.col(bc) for bc, _, _ in band])
                  .alias("la")))
    eb = (ensure_bbox(b, geom_b)
          .withColumn("_cell", F.explode(_cells("", cell)))
          .select(F.col("_cell.cx").alias("cx"),
                  F.col("_cell.cy").alias("cy"),
                  F.struct(*[F.col(c) for c in b.columns],
                           *[F.col(c) for c in BBOX_COLS if c not in b.columns])
                  .alias("rb")))
    j = ea.join(eb, ["cx", "cy"])
    overlap = ((F.col("la._xmin") <= F.col("rb.xmax"))
               & (F.col("rb.xmin") <= F.col("la._xmax"))
               & (F.col("la._ymin") <= F.col("rb.ymax"))
               & (F.col("rb.ymin") <= F.col("la._ymax")))
    canonical = (
        (F.col("cx") == F.floor(
            F.greatest(F.col("la._xmin"), F.col("rb.xmin")) / cell))
        & (F.col("cy") == F.floor(
            F.greatest(F.col("la._ymin"), F.col("rb.ymin")) / cell)))
    j = j.where(overlap & canonical)
    if points_native:
        dx = F.col("la.xmin") - F.col("rb.xmin")
        dy = F.col("la.ymin") - F.col("rb.ymin")
        j = j.where(F.sqrt(dx * dx + dy * dy) <= F.lit(float(d)))
    else:
        from ..functions import st_dwithin
        j = j.where(st_dwithin(F.col(f"la.{geom_a}"),
                               F.col(f"rb.{geom_b}"), float(d)))
    return j


def knn_point_join(left: DataFrame, right: DataFrame, k: int,
                   left_key: str, right_key: str,
                   cell: float = 8.0, max_rounds: int = 4,
                   geom_left: str = "geom", geom_right: str = "geom"
                   ) -> DataFrame:
    """Spatial k-nearest-neighbor join for POINT layers: for every left
    point, its ``k`` nearest right points (PostGIS's lateral
    ``ORDER BY a.geom <-> b.geom LIMIT k`` join), planned as bounded
    rounds of grid equi-joins instead of a cross product.

    Round with radius r: right points land in r-sized cells, each left
    point probes its 3x3 cell block (which covers the full Euclidean
    r-ball), candidates are ranked by squared distance with a
    per-left-key window, and a left key RESOLVES when it found k
    candidates whose k-th distance is <= r — every unseen point is
    farther by the covering guarantee. Unresolved keys retry with r*3
    (one extra shuffle per round, at most ``max_rounds``); the
    stragglers that remain (isolated points in empty space) finish in
    one broadcast-left brute-force pass over the right side, which at
    that stage is tiny-by-construction.

    Ties at equal distance break on ``right_key`` — output is a pure
    function of the inputs on any cluster. Output columns: left row
    struct ``la``, right key, ``dist``, ``rn`` (1-based rank).
    """
    from pyspark.sql import Window
    if k <= 0:
        raise ValueError(f"knn_point_join: k must be positive, got {k}")
    la = (ensure_bbox(left, geom_left)
          .where(F.col(geom_left).isNotNull())
          .select(F.struct(*[F.col(c) for c in left.columns]).alias("la"),
                  F.col(left_key).alias("_lk"),
                  F.col("xmin").alias("_lx"), F.col("ymin").alias("_ly")))
    d2 = ((F.col("_lx") - F.col("_rx")) * (F.col("_lx") - F.col("_rx"))
          + (F.col("_ly") - F.col("_ry")) * (F.col("_ly") - F.col("_ry")))
    w = Window.partitionBy("_lk").orderBy(F.col("_d2").asc(),
                                          F.col("_rk").asc())

    def topk(cand: DataFrame) -> DataFrame:
        return (cand.withColumn("_d2", d2)
                .withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") <= k))

    offsets = [F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
               for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    with util.cache_scope() as scope:
        rb, _ = scope.cache(
            ensure_bbox(right, geom_right)
            .where(F.col(geom_right).isNotNull())
            .select(F.col(right_key).alias("_rk"),
                    F.col("xmin").alias("_rx"), F.col("ymin").alias("_ry")))
        remaining, _ = scope.cache(la)
        resolved = []
        r = float(cell)
        for _ in range(max_rounds):
            rcells = rb.select(
                "_rk", "_rx", "_ry",
                F.floor(F.col("_rx") / r).alias("cx"),
                F.floor(F.col("_ry") / r).alias("cy"))
            probes = (remaining
                      .withColumn("_o", F.explode(F.array(*offsets)))
                      .select("la", "_lk", "_lx", "_ly",
                              (F.floor(F.col("_lx") / r)
                               + F.col("_o.dx")).alias("cx"),
                              (F.floor(F.col("_ly") / r)
                               + F.col("_o.dy")).alias("cy")))
            top = topk(probes.join(rcells, ["cx", "cy"]))
            safe_keys = (top.groupBy("_lk")
                         .agg(F.count("*").alias("_n"),
                              F.max("_d2").alias("_kth"))
                         .where((F.col("_n") == k)
                                & (F.col("_kth") <= F.lit(r * r)))
                         .select("_lk"))
            # r12: materialize this round's k-row-per-key result NOW,
            # while ``remaining``/``rb`` are still cached — a lazy frame
            # forced only by the final checkpoint re-ran every earlier
            # round's probe-join chain from the source scan (measured as
            # the bulk of this operator's wall time at sf0.1).
            resolved.append(
                top.join(safe_keys, "_lk", "left_semi")
                   .select("la", "_lk", F.col("_rk"), "_d2", "rn")
                   .localCheckpoint(eager=True))
            nxt, n_left = scope.cache(
                remaining.join(safe_keys, "_lk", "left_anti"))
            scope.release(remaining)
            remaining = nxt
            if n_left == 0:
                break
            r *= 3.0
        else:
            # brute force for isolated stragglers: broadcast the (tiny)
            # remaining left side over one scan of the right points
            brute = topk(F.broadcast(remaining).crossJoin(rb))
            resolved.append(
                brute.select("la", "_lk", F.col("_rk"), "_d2", "rn"))
        out = resolved[0]
        for part in resolved[1:]:
            out = out.unionByName(part)
        # the loop already ran per-round actions, so one eager
        # checkpoint adds no extra pass over the data
        return (out.select("la", F.col("_rk").alias("rk"),
                           F.sqrt(F.col("_d2")).alias("dist"), "rn")
                .localCheckpoint(eager=True))


def nearest_segment_join(points: DataFrame, segs: DataFrame, r: float,
                         point_key: str, seg_key: str,
                         x_col: str = "x", y_col: str = "y",
                         ax: str = "ax", ay: str = "ay",
                         bx: str = "bx", by: str = "by",
                         cell: Optional[float] = None) -> DataFrame:
    """Bounded-radius map matching: each point's nearest segment within
    ``r`` (points farther than r from every segment are unmatched and
    absent — the GPS-snap contract). Segments arrive as COORDINATE
    COLUMNS (key, ax, ay, bx, by) — the production shape for a road
    network at scale — so the whole join is JVM arithmetic: segment
    bboxes expand by r into covering grid cells, the equi-join on the
    cell key bounds candidates, the exact point-to-segment distance is
    a clamped-projection expression, and a per-point window takes the
    argmin (ties on the segment key). Zero Python anywhere.

    Output: the point row struct ``pt``, the matched segment key,
    ``dist``, and the projection parameter ``t`` in [0, 1]."""
    from pyspark.sql import Window
    if r <= 0:
        raise ValueError(f"nearest_segment_join: radius must be > 0")
    if cell is None:
        cell = max(2.0 * r, 8.0)
    sxmin = F.least(F.col(ax), F.col(bx)) - r
    sxmax = F.greatest(F.col(ax), F.col(bx)) + r
    symin = F.least(F.col(ay), F.col(by)) - r
    symax = F.greatest(F.col(ay), F.col(by)) + r
    sb = (segs.select(F.col(seg_key).alias("_sk"),
                      F.col(ax).alias("_ax"), F.col(ay).alias("_ay"),
                      F.col(bx).alias("_bx"), F.col(by).alias("_by"),
                      F.sequence(F.floor(sxmin / cell),
                                 F.floor(sxmax / cell)).alias("_cxs"),
                      F.sequence(F.floor(symin / cell),
                                 F.floor(symax / cell)).alias("_cys"))
          .withColumn("cx", F.explode("_cxs"))
          .withColumn("cy", F.explode("_cys"))
          .drop("_cxs", "_cys"))
    pb = (points
          .where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
          .select(F.struct(*[F.col(c) for c in points.columns])
                  .alias("pt"),
                  F.col(point_key).alias("_pk"),
                  F.col(x_col).alias("_px"), F.col(y_col).alias("_py"))
          .withColumn("cx", F.floor(F.col("_px") / cell))
          .withColumn("cy", F.floor(F.col("_py") / cell)))
    j = pb.join(sb, ["cx", "cy"])
    dx, dy = F.col("_bx") - F.col("_ax"), F.col("_by") - F.col("_ay")
    l2 = dx * dx + dy * dy
    traw = ((F.col("_px") - F.col("_ax")) * dx
            + (F.col("_py") - F.col("_ay")) * dy) / l2
    t = F.when(l2 <= F.lit(0.0), F.lit(0.0)) \
        .otherwise(F.greatest(F.lit(0.0), F.least(F.lit(1.0), traw)))
    qx = F.col("_ax") + t * dx
    qy = F.col("_ay") + t * dy
    d2 = (F.col("_px") - qx) * (F.col("_px") - qx) \
        + (F.col("_py") - qy) * (F.col("_py") - qy)
    j = j.withColumn("_t", t).withColumn("_d2", d2) \
         .where(F.col("_d2") <= F.lit(float(r) * float(r)))
    w = Window.partitionBy("_pk").orderBy(F.col("_d2").asc(),
                                          F.col("_sk").asc())
    return (j.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("pt", F.col("_sk").alias("seg_key"),
                    F.sqrt(F.col("_d2")).alias("dist"),
                    F.col("_t").alias("t")))
