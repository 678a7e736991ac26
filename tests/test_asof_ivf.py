"""Unit + plan tests for the round-3 beyond-reference operators:
distributed as-of join (union-and-sweep), IVF ANN, streaming first-seen
dedup. Driver-level oracle checks live in test_entry_oracle.py; these
cover semantics the fixture queries don't reach (forward direction,
exclusive matches, empty right side) and pin the scale-plan shapes."""

import pyspark.sql.functions as F
import pytest

from datafusion_geo_spark.operators.asof_join import asof_join


def _sides(spark):
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 35, "c"), (2, 5, "d"), (3, 7, "e")],
        "k long, t long, tag string")
    right = spark.createDataFrame(
        [(1, 10, 100), (1, 30, 101), (2, 6, 102)],
        "k long, rt long, price long")
    return left, right


def _rows(df):
    return {r["tag"]: r["price"] for r in df.collect()}


def test_asof_backward_inclusive(spark):
    left, right = _sides(spark)
    got = _rows(asof_join(left, right, on="k", left_time="t", right_time="rt"))
    # a: exact match t=10; b: last rt<=20 is 10; c: 30; d: rt=6 > 5 -> null
    assert got == {"a": 100, "b": 100, "c": 101, "d": None, "e": None}


def test_asof_backward_exclusive(spark):
    left, right = _sides(spark)
    got = _rows(asof_join(left, right, on="k", left_time="t", right_time="rt",
                          allow_exact_matches=False))
    assert got == {"a": None, "b": 100, "c": 101, "d": None, "e": None}


def test_asof_forward(spark):
    left, right = _sides(spark)
    got = _rows(asof_join(left, right, on="k", left_time="t", right_time="rt",
                          direction="forward"))
    # a: first rt>=10 is 10; b: 30; c: none; d: 6
    assert got == {"a": 100, "b": 101, "c": None, "d": 102, "e": None}


def test_asof_tie_takes_last_in_payload_order(spark):
    left = spark.createDataFrame([(1, 10, "x")], "k long, t long, tag string")
    right = spark.createDataFrame([(1, 10, 7), (1, 10, 9)],
                                  "k long, rt long, price long")
    got = _rows(asof_join(left, right, on="k", left_time="t", right_time="rt"))
    assert got == {"x": 9}


def test_asof_name_collision_suffixed(spark):
    left = spark.createDataFrame([(1, 10, 5)], "k long, t long, price long")
    right = spark.createDataFrame([(1, 8, 42)], "k long, rt long, price long")
    out = asof_join(left, right, on="k", left_time="t", right_time="rt")
    assert "price_asof" in out.columns
    row = out.collect()[0]
    assert row["price"] == 5 and row["price_asof"] == 42


def test_asof_plan_single_sweep_no_pair_explosion(spark):
    """The as-of join must be a union + ONE window sweep: no join node
    of any kind in the plan (a range theta-join would explode to pairs ×
    history length at scale)."""
    left, right = _sides(spark)
    plan = asof_join(left, right, on="k", left_time="t", right_time="rt") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan and "Window" in plan
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin",
                 "SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert node not in plan, f"pair-producing {node} in as-of plan"


def test_asof_null_payload_carried_not_filled_through(spark):
    """A NULL payload VALUE in the matching right row must be carried
    as-is (pandas.merge_asof semantics) — not filled from an older right
    row, and with several payload columns the result must never stitch
    a chimera row mixing columns of different right rows."""
    left = spark.createDataFrame([(1, 3, "x")], "k long, t long, tag string")
    right = spark.createDataFrame(
        [(1, 1, 5, 8), (1, 2, 7, None)],
        "k long, rt long, a long, b long")
    out = asof_join(left, right, on="k", left_time="t", right_time="rt",
                    right_cols=["a", "b"]).collect()[0]
    assert out["a"] == 7 and out["b"] is None  # NOT (7, 8)


def test_range_join_fanout_guard_and_inverted_intervals(spark):
    from datafusion_geo_spark.operators.range_join import range_join
    pts = spark.createDataFrame([(1, 5.0)], "pid long, p double")
    wide = spark.createDataFrame([(1, 0.0, 1e9)], "iid long, lo double, hi double")
    with pytest.raises(Exception, match="spans more than"):
        range_join(pts, wide, "p", "lo", "hi", bucket=1.0).collect()
    inverted = spark.createDataFrame([(1, 10.0, 0.0)],
                                     "iid long, lo double, hi double")
    assert range_join(pts, inverted, "p", "lo", "hi", bucket=1.0).count() == 0


def test_asof_bad_direction(spark):
    left, right = _sides(spark)
    with pytest.raises(ValueError, match="backward/forward"):
        asof_join(left, right, on="k", left_time="t", right_time="rt",
                  direction="nearest")


SF_DIR = "/root/testdata/sf0.001"


def test_ivf_stays_jvm_side_and_broadcasts(spark):
    """IVF: all math in built-ins (no Python eval nodes); probe set
    broadcast; corpus list assignment is MAP-ONLY (inlined fitted
    list — no assignment aggregate/shuffle in the plan)."""
    import __spark_entry__ as entrymod
    df = entrymod.queries()["ivf_topk"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastExchange" in plan
    assert "array_max" in plan  # the inlined argmax assignment
    assert "CartesianProduct" not in plan.replace(
        "BroadcastNestedLoopJoin", "")  # probe scoring IS broadcast-NL


def test_ivf_recall_vs_brute_force(spark):
    """IVF with nprobe=2 over 8 lists keeps most true top-10 neighbors —
    and every returned pair's similarity must equal the brute-force
    value (IVF approximates the candidate set, never the metric)."""
    import __spark_entry__ as entrymod
    ivf = {(r["query_id"], r["neighbor_id"]): r["sim"]
           for r in entrymod.queries()["ivf_topk"](spark, SF_DIR).collect()}
    bf = {(r["query_id"], r["neighbor_id"]): r["sim"]
          for r in entrymod.queries()["cosine_topk"](spark, SF_DIR).collect()}
    hits = sum(1 for p in ivf if p in bf)
    assert hits / max(len(bf), 1) >= 0.5, "recall collapsed"
    for p, sim in ivf.items():
        if p in bf:
            assert abs(sim - bf[p]) < 1e-9


def _clustered_corpus(spark, n_clusters=8, per=60, dim=32, seed=7):
    """Deterministic clustered embeddings where ingestion order is
    correlated with cluster membership (ids 0..per-1 = cluster 0, ...)
    — the realistic web-crawl shape where "first k vectors" is a
    degenerate centroid choice (all k land in one cluster)."""
    import numpy as np
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in range(n_clusters):
        pts = centers[c] + 0.15 * rng.normal(size=(per, dim))
        for p in pts:
            rows.append((vid, [float(x) for x in p]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivf_trained_beats_standin_on_clustered_data(spark):
    """On data WITH cluster structure, trained k-means centroids must
    recover the clusters and beat the first-k stand-in (whose 8
    centroids all fall in cluster 0 here). On the driver's embeddings
    fixture the comparison is meaningless: those vectors are isotropic
    random (intra-label cosine == inter-label cosine ~= 0) and the
    stand-in's centroids coincide with the query set (ids < 8), which
    is the optimal IVF for exactly those queries by construction."""
    from datafusion_geo_spark.operators.similarity import (cosine_topk,
                                                           ivf_topk, prenorm)
    emb = _clustered_corpus(spark)
    vecs = prenorm(emb).persist()
    qs = vecs.where("vec_id < 8")
    truth = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(vecs, qs, prenormed=True).collect()}

    def recall(mode):
        got = {(r.query_id, r.neighbor_id)
               for r in ivf_topk(vecs, prenormed=True,
                                 centroids=mode).collect()}
        return len(got & truth) / len(truth)

    r_first, r_trained = recall("first"), recall("trained")
    # 0.8 floor, not 1.0: md5-ordered seeding can land two seeds in one
    # cluster (k-means' usual init sensitivity), costing a merged pair.
    assert r_trained >= 0.8, f"trained recall collapsed: {r_trained}"
    assert r_trained > r_first + 0.2, (r_first, r_trained)


def test_kmeans_centroids_deterministic_across_runs(spark):
    """Same corpus -> bit-identical centroids on repeated training (the
    property the SQL oracle depends on): seeds are md5-ordered, means
    are 6-dp rounded, ties in assignment break to the lowest cid."""
    from datafusion_geo_spark.operators.similarity import (kmeans_centroids,
                                                           prenorm)
    vecs = prenorm(_clustered_corpus(spark, n_clusters=4, per=30))
    a = kmeans_centroids(vecs, n_centroids=4, iters=2)
    b = kmeans_centroids(vecs, n_centroids=4, iters=2)
    assert a == b


def test_asof_salted_matches_unsalted_on_hot_key(spark):
    """Skew hardening (VERDICT r3 item 5): one user owns 50% of the
    left events; salt=8 must return exactly the unsalted result while
    splitting the hot key's sweep into sub-partitions."""
    hot = [(1, t, f"h{t}") for t in range(0, 1000, 2)]       # 500 rows, key 1
    cold = [(k, t * 10, f"c{k}_{t}") for k in range(2, 52)
            for t in range(10)]                               # 50 keys x 10
    left = spark.createDataFrame(hot + cold, "k long, t long, tag string")
    right = spark.createDataFrame(
        [(k, t, k * 1000 + t) for k in range(1, 52)
         for t in range(0, 1000, 97)], "k long, rt long, price long")
    base = {r["tag"]: r["price"] for r in
            asof_join(left, right, on="k", left_time="t",
                      right_time="rt").collect()}
    salted = {r["tag"]: r["price"] for r in
              asof_join(left, right, on="k", left_time="t",
                        right_time="rt", salt=8).collect()}
    assert salted == base and len(base) == 1000
    # forward + exclusive flavors stay correct under salt too
    base_f = {r["tag"]: r["price"] for r in
              asof_join(left, right, on="k", left_time="t", right_time="rt",
                        direction="forward",
                        allow_exact_matches=False).collect()}
    salted_f = {r["tag"]: r["price"] for r in
                asof_join(left, right, on="k", left_time="t", right_time="rt",
                          direction="forward", allow_exact_matches=False,
                          salt=8).collect()}
    assert salted_f == base_f


def test_asof_map_payload_rejected_up_front(spark):
    """A MapType payload cannot join the deterministic tie order; the
    error must name the column and arrive BEFORE any job runs."""
    left = spark.createDataFrame([(1, 10)], "k long, t long")
    right = spark.createDataFrame([(1, 5, {"a": 1})],
                                  "k long, rt long, attrs map<string,long>")
    with pytest.raises(ValueError, match="attrs.*unorderable"):
        asof_join(left, right, on="k", left_time="t", right_time="rt")


def test_asof_internal_names_do_not_collide(spark):
    """User columns named _t/_tag/_pay/_salt must survive untouched —
    the sweep's internal columns uniquify themselves around them."""
    left = spark.createDataFrame([(1, 10, "u", 5, 6, 7)],
                                 "k long, t long, _tag string, _t long, "
                                 "_pay long, _salt long")
    right = spark.createDataFrame([(1, 5, 42)], "k long, rt long, price long")
    got = asof_join(left, right, on="k", left_time="t", right_time="rt",
                    salt=4).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["_tag"], r["_t"], r["_pay"], r["_salt"]) == ("u", 5, 6, 7)
    assert r["price"] == 42


def test_knn_join_full_graph(spark):
    """knn_join emits a neighbor list for EVERY vector (not just a probe
    subset) and within-cluster neighbors rank first on clustered data."""
    import random
    from datafusion_geo_spark.operators.similarity import knn_join
    rng = random.Random(3)
    rows = []
    for i in range(24):
        axis = i % 2              # two orthogonal clusters
        v = [0.0] * 8
        v[axis * 4] = 1.0
        v[axis * 4 + 1] = rng.random() * 0.05
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = knn_join(df, k=3, n_centroids=2, nprobe=1).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r)
    # every vector got k neighbors, ranked 1..k
    assert set(per_q) == set(range(24))
    for q, rs in per_q.items():
        assert sorted(r["rank"] for r in rs) == [1, 2, 3]
        # centroids are vec 0 (even axis) and vec 1 (odd axis): with
        # nprobe=1 every neighbor shares the query's parity cluster
        assert all(r["neighbor_id"] % 2 == q % 2 for r in rs)


def test_knn_join_no_cartesian_no_corpus_broadcast(spark):
    """Candidate generation must be a cid equi-join; the corpus-sized
    probe side must NOT be broadcast (that's ivf_topk's small-query
    shortcut, invalid for the full graph)."""
    from datafusion_geo_spark.operators.similarity import knn_join
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)],
        "vec_id long, embedding array<float>")
    plan = (knn_join(df, k=2, n_centroids=2, nprobe=1)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan


def test_knn_gemm_scorer_matches_jvm(spark):
    """The blocked-GEMM scorer (default) must be row-identical to the
    exact JVM fold arithmetic on clustered data, including rank order
    and 6-dp sims."""
    from datafusion_geo_spark.operators.similarity import knn_join
    import random
    rng = random.Random(5)
    rows = [(i, [rng.random() for _ in range(16)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = knn_join(df, k=4, n_centroids=4, nprobe=2,
                 scorer="jvm").orderBy("query_id", "rank").collect()
    b = knn_join(df, k=4, n_centroids=4, nprobe=2,
                 scorer="gemm").orderBy("query_id", "rank").collect()
    assert a == b
    import pytest as _pt
    with _pt.raises(ValueError):
        knn_join(df, scorer="nope")


def test_knn_gemm_small_lists_no_crash(spark):
    """Review regression: a probed list with FEWER than k members must
    return the available neighbors, not raise a boolean-mask
    IndexError (qid.repeat must use the actual take width)."""
    from datafusion_geo_spark.operators.similarity import knn_join
    df = spark.createDataFrame(
        [(i, [float(i % 4 == j) for j in range(4)]) for i in range(8)],
        "vec_id long, embedding array<float>")
    a = knn_join(df, k=5, n_centroids=4, nprobe=1,
                 scorer="jvm").orderBy("query_id", "rank").collect()
    b = knn_join(df, k=5, n_centroids=4, nprobe=1,
                 scorer="gemm").orderBy("query_id", "rank").collect()
    assert a == b and len(b) > 0


@pytest.mark.slow
def test_ivfpq_recall_on_clustered_data(spark):
    """IVFADC end-to-end sanity on data with real cluster structure:
    coarse lists + residual PQ codes must still put most of each
    query's true top-10 (by exact cosine) into the returned top-10.
    PQ at m=8/ksub=16 over 32 dims is lossy and the probe prunes
    6/8 of the corpus, so the floor is recall >= 0.5 — far above the
    ~10/470 random baseline — plus exact determinism across runs."""
    from datafusion_geo_spark.operators.similarity import (cosine_topk,
                                                           ivfpq_search,
                                                           prenorm)
    emb = _clustered_corpus(spark)
    vecs = prenorm(emb).persist()
    try:
        qs = vecs.where("vec_id < 8")
        truth = {(r.query_id, r.neighbor_id)
                 for r in cosine_topk(vecs, qs, prenormed=True).collect()}
        got1 = ivfpq_search(vecs, m=8, max_query_id=8).collect()
        got = {(r.query_id, r.neighbor_id) for r in got1}
        rec = len(got & truth) / len(truth)
        assert rec >= 0.5, f"ivfpq recall collapsed: {rec}"
        got2 = {(r.query_id, r.neighbor_id, r.score_micro, r.rank)
                for r in ivfpq_search(vecs, m=8, max_query_id=8).collect()}
        assert {(r.query_id, r.neighbor_id, r.score_micro, r.rank)
                for r in got1} == got2
    finally:
        vecs.unpersist()
