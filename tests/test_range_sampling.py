"""Unit + plan tests for the bucketized range join and deterministic
hash splitting/sampling operators."""

import pyspark.sql.functions as F
import pytest

from datafusion_geo_spark.operators.range_join import range_join
from datafusion_geo_spark.operators.sampling import (HASH_BUCKETS,
                                                     deterministic_sample,
                                                     hash_bucket, with_split)


def _pts(spark):
    return spark.createDataFrame(
        [(1, 5.0), (2, 10.0), (3, 15.0), (4, None)],
        "pid long, p double")


def _ivs(spark):
    return spark.createDataFrame(
        [(100, 0.0, 10.0), (101, 10.0, 20.0), (102, 4.0, 16.0)],
        "iid long, lo double, hi double")


def _pairs(df):
    return {(r["pid"], r["iid"]) for r in df.collect()}


def test_range_join_closed_both(spark):
    got = _pairs(range_join(_pts(spark), _ivs(spark), "p", "lo", "hi",
                            bucket=8.0))
    assert got == {(1, 100), (1, 102), (2, 100), (2, 101), (2, 102),
                   (3, 101), (3, 102)}


def test_range_join_closed_left(spark):
    got = _pairs(range_join(_pts(spark), _ivs(spark), "p", "lo", "hi",
                            bucket=8.0, closed="left"))
    # p=10 no longer matches [0,10), still matches [10,20) and [4,16)
    assert (2, 100) not in got and (2, 101) in got and (2, 102) in got


def test_range_join_closed_right_and_neither(spark):
    right = _pairs(range_join(_pts(spark), _ivs(spark), "p", "lo", "hi",
                              bucket=8.0, closed="right"))
    assert (2, 101) not in right and (2, 100) in right
    neither = _pairs(range_join(_pts(spark), _ivs(spark), "p", "lo", "hi",
                                bucket=8.0, closed="neither"))
    assert (2, 100) not in neither and (2, 101) not in neither


def test_range_join_no_duplicate_pairs_and_bucket_invariance(spark):
    """A point lives in one bucket — every (point, interval) pair must
    appear exactly once, for any bucket width."""
    for bucket in (1.0, 3.0, 8.0, 100.0):
        rows = range_join(_pts(spark), _ivs(spark), "p", "lo", "hi",
                          bucket=bucket).collect()
        pairs = [(r["pid"], r["iid"]) for r in rows]
        assert len(pairs) == len(set(pairs)), bucket
        assert set(pairs) == _pairs(
            range_join(_pts(spark), _ivs(spark), "p", "lo", "hi", bucket=8.0))


def test_range_join_is_equi_join(spark):
    plan = range_join(_pts(spark), _ivs(spark), "p", "lo", "hi", bucket=8.0) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_join_bad_closed(spark):
    with pytest.raises(ValueError, match="invalid closed"):
        range_join(_pts(spark), _ivs(spark), "p", "lo", "hi", bucket=8.0,
                   closed="open")


def test_with_split_weights_and_determinism(spark):
    docs = spark.range(0, 2000).withColumnRenamed("id", "k")
    out = with_split(docs, "k").groupBy("split").count().collect()
    counts = {r["split"]: r["count"] for r in out}
    assert set(counts) == {"train", "valid", "test"}
    assert counts["train"] > counts["valid"] + counts["test"]
    # pure function of the key: same assignment on a different frame
    again = {r["k"]: r["split"]
             for r in with_split(docs, "k").collect()}
    subset = {r["k"]: r["split"]
              for r in with_split(docs.where(F.col("k") < 100), "k").collect()}
    assert all(again[k] == v for k, v in subset.items())


def test_with_split_rejects_bad_weights(spark):
    with pytest.raises(ValueError, match="must sum"):
        with_split(spark.range(5), "id", weights={"a": 1, "b": 2})


def test_deterministic_sample_aligned_across_tables(spark):
    """Same key ⇒ same keep-decision in both tables: a sampled join
    loses no pairs inside the sample (the property df.sample lacks)."""
    a = spark.range(0, 1000).withColumnRenamed("id", "k")
    b = spark.range(0, 1000).withColumnRenamed("id", "k")
    ka = {r["k"] for r in deterministic_sample(a, "k", 0.2).collect()}
    kb = {r["k"] for r in deterministic_sample(b, "k", 0.2).collect()}
    assert ka == kb
    assert 100 < len(ka) < 320  # ~200 expected, generous band


def test_connected_components_shapes(spark):
    from datafusion_geo_spark.operators.dedup import connected_components
    pairs = spark.createDataFrame(
        # chain 1-2-3-4, triangle 10-11-12, isolated edge 20-21
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long")
    got = {r["doc_id"]: r["component"]
           for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_max_iter_raises(spark):
    """max_iter guards the DISTRIBUTED loop (the r12 bounded driver
    finish has no rounds — force past it by zeroing the cap)."""
    import datafusion_geo_spark.operators.util as U
    from datafusion_geo_spark.operators.dedup import connected_components
    chain = spark.createDataFrame([(i, i + 1) for i in range(30)],
                                  "id_a long, id_b long")
    cap = U.DRIVER_MAX_EDGES
    U.DRIVER_MAX_EDGES = 0
    try:
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(chain, max_iter=2)
        # converges with enough rounds (min label flows ~2 hops/round)
        got = {r["doc_id"]: r["component"]
               for r in connected_components(chain, max_iter=31).collect()}
    finally:
        U.DRIVER_MAX_EDGES = cap
    assert set(got.values()) == {0}
    # the driver finish ignores max_iter by design (no rounds)
    got_drv = {r["doc_id"]: r["component"]
               for r in connected_components(chain, max_iter=2).collect()}
    assert set(got_drv.values()) == {0}


def test_chunk_documents_windows(spark):
    from datafusion_geo_spark.operators.dedup import chunk_documents
    text = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame([(1, text), (2, "short doc")],
                               "doc_id long, text string")
    out = chunk_documents(df, chunk_tokens=40, overlap=10).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: 100 tokens, stride 30 → ceil(90/30)=3 chunks
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [r["n_tokens"] for r in c1] == [40, 40, 40]
    assert c1[0]["chunk_text"].split()[0] == "w0"
    assert c1[1]["chunk_text"].split()[0] == "w30"   # overlap of 10
    assert c1[2]["chunk_text"].split()[-1] == "w99"
    # short doc: one partial chunk
    assert [(r["chunk_idx"], r["n_tokens"], r["chunk_text"])
            for r in by_doc[2]] == [(0, 2, "short doc")]


def test_chunk_documents_bad_overlap(spark):
    from datafusion_geo_spark.operators.dedup import chunk_documents
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(spark.range(1).withColumnRenamed("id", "doc_id")
                        .withColumn("text", F.lit("x")),
                        chunk_tokens=10, overlap=10)


def test_hash_bucket_no_python_udf(spark):
    df = spark.range(10).select(hash_bucket(F.col("id")).alias("b"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert df.where((F.col("b") < 0) | (F.col("b") >= HASH_BUCKETS)) \
        .count() == 0


@pytest.mark.slow
def test_connected_components_fuzz_vs_union_find(spark):
    """r11 pointer-edge CC rewrite: parity with a brute-force
    union-find on random graphs, incl. the symmetric=True fast path
    (pre-symmetrized input) and string vertex ids. r12: BOTH execution
    paths are pinned per trial — the bounded driver finish (the default
    at these sizes) and the distributed min-label loop (forced by
    zeroing the driver cap)."""
    import random
    import datafusion_geo_spark.operators.util as U
    from datafusion_geo_spark.operators.dedup import connected_components

    rng = random.Random(1117)
    for trial in range(3):
        n = 60
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(70)]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        verts = {v for e in edges for v in e}
        want = {v: min(u for u in verts if find(u) == find(v))
                for v in verts}

        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r["doc_id"]: r["component"]
               for r in connected_components(pairs, max_iter=40).collect()}
        assert got == want, f"trial {trial}"
        # the distributed loop, forced past the driver-finish gate
        cap = U.DRIVER_MAX_EDGES
        U.DRIVER_MAX_EDGES = 0
        try:
            got_d = {r["doc_id"]: r["component"]
                     for r in connected_components(
                         pairs, max_iter=40).collect()}
        finally:
            U.DRIVER_MAX_EDGES = cap
        assert got_d == want, f"trial {trial} distributed"
        # symmetric=True on the explicitly symmetrized relation
        sym = edges + [(b, a) for a, b in edges]
        pairs_s = spark.createDataFrame(sym, "id_a long, id_b long")
        got_s = {r["doc_id"]: r["component"]
                 for r in connected_components(
                     pairs_s, max_iter=40, symmetric=True).collect()}
        assert got_s == want, f"trial {trial} symmetric"


def test_connected_components_string_keys_and_empty(spark):
    from datafusion_geo_spark.operators.dedup import connected_components
    pairs = spark.createDataFrame(
        [("bb", "aa"), ("bb", "cc"), ("zz", "yy")],
        "id_a string, id_b string")
    got = {r["doc_id"]: r["component"]
           for r in connected_components(pairs).collect()}
    assert got == {"aa": "aa", "bb": "aa", "cc": "aa",
                   "yy": "yy", "zz": "yy"}
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty).count() == 0
