"""Unit + plan tests for passage_dedup_stats (operators/dedup.py) —
exact-substring duplication audit. Oracle-level check (copy-augmented
fixture) lives in test_entry_oracle.py."""

import pyspark.sql.functions as F

from datafusion_geo_spark.operators.dedup import passage_dedup_stats


def _run(spark, rows, **kw):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {r["doc_id"]: r for r in passage_dedup_stats(df, **kw).collect()}


def test_exact_copy_fully_duplicated(spark):
    a = "x" * 10 + "".join(chr(ord("a") + i % 26) * 4 for i in range(60))
    out = _run(spark, [(1, a), (2, a), (3, "b" * 250)],
               window=100, stride=50)
    assert out[1]["n_windows"] > 0
    assert out[1]["n_dup_windows"] == out[1]["n_windows"]
    assert out[2]["dup_ratio"] == 1.0 and not out[2]["keep"]
    # doc 3 is all-same-char: its windows are identical to EACH OTHER
    # (within-doc exact repeats count as duplication, per Lee et al.)
    assert out[3]["n_dup_windows"] == out[3]["n_windows"] > 1


def test_unique_doc_zero_ratio(spark):
    import random
    rng = random.Random(7)
    uniq = "".join(chr(ord("a") + rng.randrange(26)) for _ in range(300))
    out = _run(spark, [(1, uniq), (2, "z" * 40)], window=100, stride=50)
    assert out[1]["n_dup_windows"] == 0
    assert out[1]["dup_ratio"] == 0.0 and out[1]["keep"]
    # shorter than the window: zero windows, zero ratio, kept
    assert out[2]["n_windows"] == 0 and out[2]["n_dup_windows"] == 0
    assert out[2]["dup_ratio"] == 0.0 and out[2]["keep"]


def test_window_positions_and_counts(spark):
    # len 150 -> positions 1 and 51 (stride 50, window 100)
    out = _run(spark, [(1, "a" * 150)], window=100, stride=50)
    assert out[1]["n_windows"] == 2


def test_partial_overlap_ratio(spark):
    """First half of doc 2 equals doc 1's text -> only the aligned
    windows are duplicated, ratio strictly between 0 and 1."""
    import random
    rng = random.Random(11)
    shared = "".join(chr(ord("a") + rng.randrange(26)) for _ in range(200))
    tail = "".join(chr(ord("A") + rng.randrange(26)) for _ in range(200))
    out = _run(spark, [(1, shared), (2, shared + tail)],
               window=100, stride=50)
    assert 0 < out[2]["n_dup_windows"] < out[2]["n_windows"]
    assert 0.0 < out[2]["dup_ratio"] < 1.0


def test_plan_no_cartesian_hash_only_shuffle(spark):
    df = spark.createDataFrame([(1, "a" * 200)], "doc_id long, text string")
    plan = (passage_dedup_stats(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
