"""Fit-oracle parity PAST the training-sample cap (r7 verdict item 4).

similarity.kmeans_centroids / pq_train fit on the TRAIN_SAMPLE_CAP rows
with the smallest (md5(id), id); every test fixture is smaller than the
cap, so until round 8 the oracle replays trained on the full corpus and
the equivalence "sample == corpus" was documented but never exercised.
This module synthesizes an embeddings corpus LARGER than the cap and
proves the declared query builders still match their oracle_sql() twins
exactly — i.e. the ktrain/ptrain/rtrain LIMIT CTEs added to
_kmeans_ctes/_pq_oracle/_ivfpq_oracle replay the bounded sample fit,
not the full corpus."""

import math

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entrymod
from datafusion_geo_spark.operators.similarity import TRAIN_SAMPLE_CAP

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

#: strictly above the cap so the md5 sample is a PROPER subset — the
#: old full-corpus oracle replay diverges on this corpus, the bounded
#: replay matches
N_ROWS = TRAIN_SAMPLE_CAP + 904
DIM = 64  # the oracle builders' fixture dimension


@pytest.fixture(scope="module")
def big_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("bigcorpus")
    ids = np.arange(N_ROWS, dtype=np.int64)
    # seeded RNG → every vector distinct (a modular formula here made
    # the corpus 97-periodic and the sample fit coincided with the
    # full-corpus fit, giving the parity tests no teeth — verified by
    # negative control: with THIS corpus the pre-r8 full-corpus oracle
    # replay diverges from the bounded one); no zero-norm rows (prenorm
    # contract precondition — see ADVICE r7 on NaN-cosine ordering)
    emb = np.random.default_rng(42).standard_normal(
        (N_ROWS, DIM)).astype(np.float32)
    norms = np.abs(emb).sum(axis=1)
    assert (norms > 0).all(), "zero-norm row in synthesized corpus"
    tbl = pa.table({
        "vec_id": pa.array(ids),
        "embedding": pa.array(emb.tolist(), type=pa.list_(pa.float32())),
        "label": pa.array((ids % 7).astype(np.int32)),
    })
    pq.write_table(tbl, str(d / "embeddings.parquet"))
    return str(d)


def _duck(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{sf_dir}/embeddings.parquet')")
    return con.execute(sql).fetchdf()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    # the test_entry_oracle discipline: sorted columns, 9-dp floats,
    # order-insensitive row alignment
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        vals = []
        for v in df[c].tolist():
            if v is None or (isinstance(v, float) and math.isnan(v)):
                vals.append(None)
            elif isinstance(v, float):
                vals.append(round(v, 9))
            elif hasattr(v, "item"):
                item = v.item()
                vals.append(round(item, 9) if isinstance(item, float)
                            else item)
            else:
                vals.append(v)
        out[c] = vals
    norm = pd.DataFrame(out)
    return norm.sort_values(by=list(norm.columns), key=lambda s: s.map(repr)) \
               .reset_index(drop=True)


@pytest.mark.parametrize("name", [
    "ivf_trained_topk",   # _kmeans_ctes (vecs-trained path)
    "cluster_cohesion",   # _kmeans_ctes reuse + ranked scoring
    "pq_topk",            # _pq_oracle subspace chain
    "ivfpq_topk",         # coarse _kmeans_ctes + residual rtrain chain
    "semantic_dedup",     # _kmeans_ctes train_vecs_sql (tvecs) path
])
@pytest.mark.slow
def test_fit_query_matches_oracle_past_cap(spark, big_dir, name):
    got = _normalize(QUERIES[name](spark, big_dir).toPandas())
    want = _normalize(_duck(ORACLES[name], big_dir))
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want), f"row count {len(got)} vs {len(want)}"
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_cap_actually_binds(spark, big_dir):
    """Guard the guard: the synthesized corpus must EXCEED the cap and
    the engine-side training sample must be a proper subset, otherwise
    the parity tests above degrade to the pre-r8 (sample == corpus)
    case and prove nothing."""
    from datafusion_geo_spark.operators.similarity import _train_sample
    from datafusion_geo_spark.sources.fixtures import embeddings_normed
    vecs = embeddings_normed(spark, big_dir)
    total = vecs.count()
    assert total == N_ROWS > TRAIN_SAMPLE_CAP
    rows = _train_sample(vecs, "vec_id", ("v",))
    assert len(rows) == TRAIN_SAMPLE_CAP
    sampled_ids = {r["_id"] for r in rows}
    assert len(sampled_ids) == TRAIN_SAMPLE_CAP < total
