"""Zero-norm cosine ordering guard (r8 ADVICE / r8 verdict item 6).

A zero-norm embedding makes the raw cosine NaN, and before cos6 the
three ranking paths ordered NaN three different ways (array_max:
greatest; array_sort on the negated key: last; DuckDB ORDER BY DESC:
first). cos6 pins the zero-denominator case to -2.0 — strictly below
any true cosine — so the zero-norm row deterministically LOSES every
ranking. This exercises all three orderings on a corpus containing a
zero-norm vector."""

import pyspark.sql.functions as F

from datafusion_geo_spark.operators.similarity import (
    _assign_inline, _ranked_lists_inline, cosine_topk, prenorm)

# vec 0/1/2 are well-behaved unit-ish vectors; vec 9 is all-zero
ROWS = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]),
        (9, [0.0, 0.0])]
FITTED = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 0.0])]


def _emb(spark):
    return spark.createDataFrame(ROWS, "vec_id int, embedding array<double>")


def test_assign_inline_zero_norm_never_wins_and_is_deterministic(spark):
    pn = prenorm(_emb(spark))
    out = {r["vec_id"]: r["cid"] for r in pn.select(
        "vec_id",
        _assign_inline(FITTED, F.col("v"), F.col("n")).alias("cid"))
        .collect()}
    # zero-norm CENTROID (cid 2) scores -2.0 for every well-behaved row,
    # so it never wins against a finite cosine
    assert out[0] == 0 and out[1] == 0 and out[2] == 1
    # zero-norm ROW: every candidate pins to -2.0, tie-break (cs, -cid)
    # resolves to the smallest cid — deterministic, not NaN-dependent
    assert out[9] == 0


def test_ranked_lists_zero_norm_sorts_last(spark):
    pn = prenorm(_emb(spark)).where(F.col("vec_id") == 0)
    ranked = pn.select(_ranked_lists_inline(
        FITTED, F.col("v"), F.col("n")).alias("r")).collect()[0]["r"]
    cids = [e["cid"] for e in ranked]
    # the zero-norm centroid is ranked strictly last for a finite row,
    # and agrees with _assign_inline's winner at element 1
    assert cids[0] == 0 and cids[-1] == 2
    assert [e["ncs"] for e in ranked] == sorted(e["ncs"] for e in ranked)


def test_cosine_topk_zero_norm_loses_window_ordering(spark):
    emb = _emb(spark)
    out = cosine_topk(emb, emb.where(F.col("vec_id") == 0), k=3).collect()
    by_rank = {r["rank"]: (r["neighbor_id"], r["sim"]) for r in out}
    # the zero-norm neighbor carries sim = -2.0 and lands at the bottom
    # of the window ordering (F.desc would have put NaN FIRST)
    assert by_rank[3] == (9, -2.0)
    assert by_rank[1][0] == 1 and by_rank[2][0] == 2
    # and a zero-norm QUERY still produces k deterministic rows
    q9 = cosine_topk(emb, emb.where(F.col("vec_id") == 9), k=3).collect()
    assert [r["neighbor_id"] for r in
            sorted(q9, key=lambda r: r["rank"])] == [0, 1, 2]
    assert all(r["sim"] == -2.0 for r in q9)
