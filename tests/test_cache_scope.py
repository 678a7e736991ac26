"""Cache lifetimes: no operator leaves a cached relation behind, on the
success path or when its input's first action raises.

Measured on Spark's CacheManager (the registry ``persist()`` adds to),
not ``getPersistentRDDs()``: an eager ``localCheckpoint``'s blocks are
scoped by garbage collection of the returned frame and show up there
by design."""

import os
import sys
import uuid

import pyspark.sql.functions as F
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod  # noqa: E402
from conftest import SF_DIR  # noqa: E402
from datafusion_geo_spark.operators import util  # noqa: E402
from datafusion_geo_spark.operators.dedup import (  # noqa: E402
    connected_components, lsh_pairs)
from datafusion_geo_spark.operators.edit_join import (  # noqa: E402
    edit_distance_join)
from datafusion_geo_spark.operators.graph import (  # noqa: E402
    graph_stats, pagerank_int)

#: every declared query whose builder reaches an operator that caches
#: an intermediate (dedup, graph, cluster, spatial_join.knn_point_join,
#: edit_join, mlfit.logreg_fit)
CACHING_QUERIES = [
    "cluster_within", "dbscan_clusters", "dedup_keep_one", "dup_spans",
    "edit_join", "fuzzy_title_dedup", "graph_stats", "jaccard_prefix",
    "logreg_weights", "minhash_eval", "minhash_pairs",
    "neardup_components", "ngram_jaccard", "pagerank_neardup",
    "simhash_pairs", "spatial_knn_join",
]


def _cached(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager() \
        .cachedData().size()


@pytest.mark.parametrize("name", CACHING_QUERIES)
def test_declared_query_leaves_no_cache(spark, name):
    # CacheManager ignores a persist of a plan it already holds, so a
    # leak from an earlier test of the same query would hide this one
    spark.catalog.clearCache()
    query = entrymod.queries()[name]
    query(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    assert _cached(spark) == 0


def _raising_ids(spark, n: int = 40):
    """A fresh (id_a, id_b) frame whose every action raises: a unique
    error text per call keeps its plan distinct from any other."""
    boom = F.raise_error(F.lit(f"first action raises {uuid.uuid4()}"))
    x = F.when(F.col("id") >= 0, boom).otherwise(F.col("id"))
    return spark.range(n).select(x.alias("id_a"), (x + 1).alias("id_b"))


def _raising_signatures(spark):
    ids = _raising_ids(spark).select(F.col("id_a").alias("x"))
    return ids.select(F.col("x").alias("doc_id"),
                      *[(F.col("x") + i).alias(f"mh{i}") for i in range(16)])


RAISING_CASES = {
    "graph_stats": lambda spark: graph_stats(_raising_ids(spark)),
    "pagerank_int": lambda spark: pagerank_int(_raising_ids(spark)),
    "connected_components":
        lambda spark: connected_components(_raising_ids(spark)),
    "edit_distance_join": lambda spark: edit_distance_join(
        _raising_ids(spark).select(F.col("id_a").cast("string")
                                   .alias("s")), "s"),
    "lsh_pairs": lambda spark: lsh_pairs(_raising_signatures(spark)),
}


@pytest.mark.parametrize("name,driver_cap", [
    *[(name, None) for name in sorted(RAISING_CASES)],
    ("connected_components", 0),
])
def test_operator_releases_cache_when_input_raises(spark, name, driver_cap,
                                                   monkeypatch):
    if driver_cap is not None:
        monkeypatch.setattr(util, "DRIVER_MAX_EDGES", driver_cap)
    before = _cached(spark)
    with pytest.raises(Exception, match="first action raises"):
        RAISING_CASES[name](spark)
    assert _cached(spark) == before


def test_distributed_loop_releases_cache_when_it_raises(spark, monkeypatch):
    """connected_components' distributed loop raises on a chain it
    cannot close in ``max_iter`` rounds, after its caches are built."""
    monkeypatch.setattr(util, "DRIVER_MAX_EDGES", 0)
    chain = spark.range(12).select(F.col("id").alias("id_a"),
                                   (F.col("id") + 1).alias("id_b"))
    before = _cached(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=1)
    assert _cached(spark) == before


def test_cache_scope_release_and_exit(spark):
    before = _cached(spark)
    with pytest.raises(ValueError):
        with util.cache_scope() as scope:
            a, n = scope.cache(spark.range(7).select(
                (F.col("id") * 3).alias("v")))
            scope.cache(a.where(F.col("v") > 3))
            assert n == 7 and _cached(spark) == before + 2
            scope.release(a)
            assert _cached(spark) == before + 1
            raise ValueError("leave the scope by raising")
    assert _cached(spark) == before
