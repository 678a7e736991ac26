"""Unit + plan tests for SemDeDup-style semantic_dedup
(operators/similarity.py). The driver-level oracle check (copy-augmented
embeddings fixture) lives in test_entry_oracle.py; these pin the
semantics on a hand-built corpus with known cluster/duplicate structure
and the scale-plan shape (cid equi-join, no cross product in the
pairing stage)."""

import math

import pyspark.sql.functions as F
import pytest

from datafusion_geo_spark.operators.similarity import semantic_dedup


def _corpus(spark):
    """Two well-separated clusters on orthogonal axes, with exact and
    near duplicates inside each: ids 0,1,2 ~ +x cluster (0 and 1 are
    near-dups, 2 is distinct-ish but same cluster), ids 10,11 ~ +y
    cluster (exact dups)."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),       # near-dup of 0
        (2, [0.7, 0.0, 0.714, 0.0]),        # same cluster, not a dup
        (10, [0.0, 1.0, 0.0, 0.0]),
        (11, [0.0, 1.0, 0.0, 0.0]),         # exact dup of 10
    ]
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>")


def _by_id(df):
    return {r["vec_id"]: r for r in df.collect()}


def test_semantic_dedup_drops_near_dups_keeps_lowest_id(spark):
    out = _by_id(semantic_dedup(_corpus(spark), n_centroids=2,
                                train_iters=1, min_cosine=0.99))
    assert set(out) == {0, 1, 2, 10, 11}
    # lowest id of each near-dup group survives
    assert out[0]["is_kept"]
    assert not out[1]["is_kept"] and out[1]["max_sim_lower"] >= 0.99
    assert out[2]["is_kept"]          # same cluster but below threshold
    assert out[10]["is_kept"]
    assert not out[11]["is_kept"] and out[11]["max_sim_lower"] == 1.0


def test_semantic_dedup_cluster_blocking(spark):
    """Cross-cluster near-identity must NOT be compared: x-cluster and
    y-cluster members are orthogonal here, so each cluster's lowest id
    has max_sim_lower NULL (nothing below it in its own cluster)."""
    out = _by_id(semantic_dedup(_corpus(spark), n_centroids=2,
                                train_iters=1, min_cosine=0.99))
    cids = {i: out[i]["cid"] for i in out}
    assert cids[0] == cids[1] == cids[2]
    assert cids[10] == cids[11]
    assert cids[0] != cids[10]
    lowest_per_cluster = {min(i for i in cids if cids[i] == c) for c in set(cids.values())}
    for i in lowest_per_cluster:
        assert out[i]["max_sim_lower"] is None and out[i]["is_kept"]


def test_semantic_dedup_threshold_boundary(spark):
    """cosine == min_cosine (after 6-dp rounding) drops — the paper's
    ``>= tau`` convention."""
    out = _by_id(semantic_dedup(_corpus(spark), n_centroids=2,
                                train_iters=1, min_cosine=1.0))
    assert not out[11]["is_kept"]     # exact dup: sim 1.0 >= 1.0
    assert out[1]["is_kept"]          # 0.99995 < 1.0


def test_semantic_dedup_plan_no_cross_pairing(spark):
    """The pairing stage must be an equi-join on cid (cluster blocking),
    never a cartesian/BNLJ over the corpus; k-means centroids are
    broadcast. Also: exactly one row out per row in."""
    df = semantic_dedup(_corpus(spark), n_centroids=2, train_iters=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert df.count() == 5


def test_quantize_embeddings_codes(spark):
    import pyspark.sql.functions as F
    from datafusion_geo_spark.operators.similarity import (
        quantization_report, quantize_embeddings)
    rows = [
        (1, [1.0, -0.5, 0.25, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),          # all-zero: no div-by-zero
        (3, [-2.0, 2.0, 1.0, -1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: (r["scale"], r["q"])
           for r in quantize_embeddings(df).collect()}
    assert got[1] == (1.0 / 127, [127, -64, 32, 0])
    assert got[2] == (0.0, [0, 0, 0, 0])
    assert got[3] == (2.0 / 127, [-127, 127, 64, -64])
    rep = {r["vec_id"]: r.asDict() for r in quantization_report(df).collect()}
    assert all(r["q_absmax"] <= 127 for r in rep.values())
    assert rep[2]["err_nano"] == 0
    # round-trip error bounded by scale/2 per dim (x4 dims, nano units)
    for vid, r in rep.items():
        bound = (got[vid][0] / 2) * 4 * 1e9 + 4
        assert r["err_nano"] <= bound


def test_pq_beats_random_recall(spark):
    """PQ ADC top-k must overlap real brute-force top-k far above
    chance (codes preserve geometry), and codes must be in range."""
    import pyspark.sql.functions as F
    from datafusion_geo_spark.operators.similarity import (
        cosine_topk, pq_encode, pq_search, pq_train)
    from datafusion_geo_spark.sources.fixtures import embeddings_normed
    from tests.conftest import SF_DIR
    vecs = embeddings_normed(spark, SF_DIR)
    n = vecs.count()
    cb = pq_train(vecs, m=8, ksub=16, iters=2)
    assert all(0 <= cid < 16 and len(cv) == 8 for _, cid, cv in cb)
    codes = pq_encode(vecs, cb, 8, 8).collect()
    assert all(len(r["codes"]) == 8 and all(0 <= c < 16 for c in r["codes"])
               for r in codes)
    pq = pq_search(vecs, k=10).collect()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    bf = cosine_topk(emb, emb.where(F.col("vec_id") < 8), k=10).collect()
    bf_sets = {}
    for r in bf:
        bf_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = total = 0
    for r in pq:
        total += 1
        hits += r["neighbor_id"] in bf_sets.get(r["query_id"], set())
    recall = hits / total
    chance = 10.0 / n
    assert recall > 5 * chance, (recall, chance)


def test_cluster_cohesion_separation_nonnegative(spark):
    """Every member's own-centroid cosine >= its second-best by
    definition of argmax assignment, so each cluster's separation sum
    must be >= 0; counts must cover the corpus exactly once."""
    import pyspark.sql.functions as F

    from datafusion_geo_spark.operators.similarity import (
        cluster_cohesion, kmeans_centroids, prenorm)
    rows = [(i, [float((i * j) % 7 - 3) for j in range(1, 9)])
            for i in range(120)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    vecs = prenorm(emb)
    fitted = kmeans_centroids(vecs, n_centroids=4, iters=2)
    out = cluster_cohesion(vecs, fitted).collect()
    assert sum(r["n_members"] for r in out) == 120
    for r in out:
        assert r["sep_micro_sum"] >= 0
        assert r["own_micro_sum"] >= r["second_micro_sum"]
