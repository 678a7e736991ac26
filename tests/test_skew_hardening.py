"""Skew hardening (VERDICT round-1 item 7 and 9):

1. LSH / SimHash hot buckets: a band/chunk key shared by N docs makes
   N² candidates in one task; the bucket cap must drop such buckets
   while untouched buckets keep producing pairs.
2. cogrouped_grid_join builds its per-cell candidate matrix in bounded
   row blocks, so a dense cell cannot allocate an na×nb matrix at once.
3. broadcast_bbox_join's driver snapshot refuses an oversized small
   side with a clear error instead of OOMing the driver.
"""

import pyspark.sql.functions as F
import pytest


def _sig_df(spark, rows):
    """(doc_id, mh0..mh15) signature frame from literal tuples."""
    cols = ["doc_id"] + [f"mh{i}" for i in range(16)]
    return spark.createDataFrame(rows, cols)


def test_lsh_hot_bucket_dropped_cold_kept(spark):
    from datafusion_geo_spark.operators.dedup import lsh_pairs

    # 40 docs with IDENTICAL signatures (the hot boilerplate page) plus
    # 2 docs sharing a different signature (a genuine near-dup pair).
    hot = [(i, *([7] * 16)) for i in range(40)]
    cold = [(100, *([9] * 16)), (101, *([9] * 16))]
    sig = _sig_df(spark, hot + cold)

    capped = lsh_pairs(sig, max_bucket=10).collect()
    pairs = {(r.id_a, r.id_b) for r in capped}
    assert pairs == {(100, 101)}  # hot bucket gone, cold pair survives

    uncapped = lsh_pairs(sig, max_bucket=None)
    assert uncapped.count() == 40 * 39 // 2 + 1


def test_simhash_hot_bucket_dropped_cold_kept(spark):
    from datafusion_geo_spark.operators.dedup import simhash_near_pairs

    hot = [(i, 0x1234_5678_9ABC_DEF0) for i in range(40)]
    cold = [(100, 0x0F0F_0F0F_0F0F_0F0F), (101, 0x0F0F_0F0F_0F0F_0F0E)]
    sig = spark.createDataFrame(hot + cold, ["doc_id", "simhash"])

    capped = simhash_near_pairs(sig, max_bucket=10).collect()
    assert {(r.id_a, r.id_b, r.hamming) for r in capped} == {(100, 101, 1)}

    uncapped = simhash_near_pairs(sig, max_bucket=None)
    assert uncapped.count() == 40 * 39 // 2 + 1


def test_lsh_cap_noop_under_threshold(spark):
    """With every bucket under the cap, capped == uncapped (this is why
    the default-on cap cannot perturb the sf0.01 correctness rows)."""
    from datafusion_geo_spark.operators.dedup import lsh_pairs
    rows = [(i, *[i // 2 * 100 + j for j in range(16)]) for i in range(20)]
    sig = _sig_df(spark, rows)
    a = sorted(map(tuple, lsh_pairs(sig, max_bucket=1000).collect()))
    b = sorted(map(tuple, lsh_pairs(sig, max_bucket=None).collect()))
    assert a == b and len(a) == 10


def test_ngram_hot_shingle_dropped_cold_kept(spark):
    """One boilerplate shingle shared by 500 docs must not produce the
    500·499/2 candidate pairs; a genuine near-dup pair sharing private
    shingles must survive with its exact Jaccard (VERDICT r3 item 1)."""
    from datafusion_geo_spark.operators.dedup import ngram_jaccard_pairs

    # 500 docs: a shared boilerplate 3-gram + a per-doc unique tail.
    hot = [(i, f"cookie banner text unique{i} tail{i} words{i}")
           for i in range(500)]
    # One genuine near-dup pair with fully-private vocabulary.
    cold = [(1000, "alpha beta gamma delta epsilon zeta"),
            (1001, "alpha beta gamma delta epsilon eta")]
    df = spark.createDataFrame(hot + cold, ["doc_id", "text"])

    capped = ngram_jaccard_pairs(df, min_jaccard=0.1,
                                 max_shingle_df=100).collect()
    pairs = {(r.id_a, r.id_b) for r in capped}
    # hot-shingle pairs gone; the cold pair keeps its exact Jaccard
    # (3 shared of 4+4 shingles → 3/5)
    assert pairs == {(1000, 1001)}
    assert capped[0].jaccard == pytest.approx(0.6)

    # Candidate volume is bounded: the uncapped run would emit >120k
    # intersection rows from the hot shingle alone.
    uncapped = ngram_jaccard_pairs(df, min_jaccard=0.0,
                                   max_shingle_df=None)
    assert uncapped.count() == 500 * 499 // 2 + 1


def test_ngram_cap_noop_under_threshold(spark):
    """Every shingle under the df cap → capped == uncapped (why the
    default-on cap cannot perturb the sf0.01 correctness rows)."""
    from datafusion_geo_spark.operators.dedup import ngram_jaccard_pairs
    rows = [(i, f"shared prefix words doc{i // 2} body{i // 2} end{i // 2}")
            for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = sorted(map(tuple, ngram_jaccard_pairs(df, min_jaccard=0.05,
                                              max_shingle_df=1000).collect()))
    b = sorted(map(tuple, ngram_jaccard_pairs(df, min_jaccard=0.05,
                                              max_shingle_df=None).collect()))
    assert a == b and len(a) >= 10


def test_cogroup_dense_cell_blocked_matrix(spark, monkeypatch):
    """A dense single cell (300×300 candidates) with a tiny block budget
    must produce exactly the same pairs as the equi-join strategy."""
    from datafusion_geo_spark.operators import spatial_join as sj

    monkeypatch.setattr(sj, "MATRIX_BLOCK_CELLS", 512)  # forces ~many blocks

    def side(name, n):
        # n short horizontal segments stacked in one 8.0-cell
        rows = [(i, f"LINESTRING({(i % 17) * 0.1} {(i % 13) * 0.1}, "
                    f"{(i % 17) * 0.1 + 0.35} {(i % 13) * 0.1})")
                for i in range(n)]
        df = spark.createDataFrame(rows, [name, "wkt"])
        from datafusion_geo_spark.functions import st_geomfromtext
        return df.select(name, st_geomfromtext(F.col("wkt")).alias("geom"))

    a, b = side("ida", 300), side("idb", 300)
    got = {(r.ida, r.idb) for r in
           sj.cogrouped_grid_join(a, b, cell=8.0,
                                  a_cols=["ida"], b_cols=["idb"]).collect()}
    want = {(r.ida, r.idb) for r in
            sj.grid_join(a, b, cell=8.0)
            .select(F.col("la.ida"), F.col("rb.idb")).collect()}
    assert got == want and len(got) > 1000


def test_broadcast_snapshot_size_guard(spark, monkeypatch):
    from datafusion_geo_spark.operators import spatial_join as sj
    from datafusion_geo_spark.functions import st_geomfromtext

    monkeypatch.setattr(sj, "MAX_SNAPSHOT_ROWS", 5)
    pts = spark.range(20).select(
        F.col("id"),
        st_geomfromtext(F.concat(F.lit("POINT("), F.col("id").cast("string"),
                                 F.lit(" 0)"))).alias("geom"))
    with pytest.raises(ValueError, match="small side exceeds"):
        sj.broadcast_bbox_join(pts, pts).collect()


def test_passage_dedup_hot_window_linear_not_quadratic(spark):
    """A passage shared by N docs must contribute N flagged rows (one
    per occurrence, the linear AQE-splittable join shape), never N²
    candidate pairs — the structural difference from the pair-generating
    dedup family."""
    from datafusion_geo_spark.operators.dedup import passage_dedup_stats

    shared = "x" * 120                      # one hot window per doc
    docs = [(i, shared) for i in range(500)]
    out = passage_dedup_stats(
        spark.createDataFrame(docs, "doc_id long, text string"),
        window=100, stride=100)
    rows = out.collect()
    # one output row per doc; every window flagged; no pair explosion
    assert len(rows) == 500
    assert all(r["n_dup_windows"] == r["n_windows"] for r in rows)
    assert sum(r["n_windows"] for r in rows) == 500
