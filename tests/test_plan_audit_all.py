"""Every declared query's physical plan passes the scale audit.

`plans.audit` flags the two fatal smells — a CartesianProduct and a
Python UDF evaluated as a join condition — that silently turn a
small-SF-correct query into a 100-TB disaster. Pinning ALL entries of
`__spark_entry__.queries()` here means a future edit cannot
reintroduce either without a red test (VERDICT r3 item 7).

Queries that materialize eagerly when *called* (streaming runners, the
parquet-sink query) still return a final batch DataFrame; auditing that
frame is cheap and the eager part runs at sf0.001, so nothing here is
slow enough to gate out.
"""

import os

import pytest


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Vouched-for `BroadcastNestedLoopJoin Cross` nodes: each is a crossJoin
# against a BOUNDED broadcast dimension — linear work per corpus row, the
# correct 100-TB plan for "score every vector against k centroids /
# h hyperplanes / a capped probe set" (operators/similarity.py). The cap
# here is EXACT, so adding even one more cross to these queries goes red
# and must be re-justified.
ALLOWED_BROADCAST_CROSSES = {
    # (cosine_topk / embedding_neardup also crossJoin a broadcast probe
    # set, but Catalyst pushes their scoring filter into the BNLJ as a
    # condition, so no naked Cross node survives into the plan.)
    # (ann_topk: hyperplane bucketing is a map-only inlined-literal
    # expression now — zero crosses)
    "ivf_topk": 1,           # probe scoring only — corpus assignment
                             # is now map-only (_assign_inline), no
                             # assignment crosses survive
    "ivf_trained_topk": 1,   # same plan shape, trained centroids
    # (ann_recall: inherited ivf_trained_topk's probe-scoring cross
    # until r12 — the arm frames are now eagerly checkpointed
    # (b0f0ae2), so the audited plan starts from the materialized
    # ~80-row arms and no cross survives)
    "rbo_eval": 1,           # same composition: ivf_trained's one
                             # bounded probe-scoring cross
    "ndcg_eval": 1,          # same composition as rbo_eval
    "bm25_search": 1,        # ONE-ROW global aggregate (N, Σdl, dfs)
                             # broadcast back onto the corpus
    "hll_setops": 2,         # three one-row estimate frames crossed
                             # into the single output row (bounded by
                             # construction: each is a 2^b-register agg)
    "heldout_ppl": 2,        # two one-row aggregates (train token
                             # total + train vocab size) broadcast onto
                             # the held-out token stream
    "bigram_ppl": 2,         # the same two one-row train totals
    "kn_bigram_ppl": 2,      # one-row bigram-type + vocab totals
                             # broadcast onto the held-out bigram
                             # stream (text.bigram_heldout_perplexity)
    "mlm_masking": 1,        # one-row replacement-pool-size aggregate
                             # broadcast onto the token stream (the
                             # tfidf corpus-size shape)
    "join_size_estimate": 1,  # one-row CMS min-dot estimate crossed
                             # onto the one-row exact truth (the only
                             # legitimate cross left in the eval
                             # family: the two sides aggregate
                             # DIFFERENT data; same-source totals ride
                             # as full-frame windows instead)
    "nb_confusion": 2,       # bounded-dimension crosses of the NB fit:
                             # the one-row vocab-size scalar onto the
                             # L-row class table, and that L-row class
                             # table onto the per-doc stats (L = #langs)
    "tfidf_top_terms": 1,    # one-row corpus-size aggregate broadcast
    # (semantic_dedup / knn_join / knn_join_jvm: assignment and probing
    # are map-only inlined-literal expressions now — zero crosses)
    "ivfpq_topk": 2,         # IVFADC's bounded crosses in the SERVING
                             # plan: probe scoring + query coarse-dot /
                             # ADC LUT build (8-centroid and m*ksub
                             # dims). The index build (coarse assign +
                             # residual + encode) is map-only inside
                             # the localCheckpoint'd inverted index
    "unigram_logprob": 1,    # one-row token-total aggregate broadcast
                             # back onto the token stream (same shape
                             # as tfidf's corpus-size cross)
    "random_projection": 1,  # (vec, dim) stream crossed with the
                             # BOUNDED out_dim axis (16 rows) — linear
                             # work per stream row, the k-centroid shape
    "graph_stats": 0,        # its three ONE-ROW count-aggregate crosses
                             # now execute eagerly inside the operator
                             # (localCheckpoint releases the edge cache)
                             # so the returned plan is a checkpoint scan
    "quality_filter": 2,     # unigram's one-row token total PLUS the
                             # one-row percentile threshold, both
                             # broadcast back onto the scored frame
    "kappa_eval": 1,         # the one-row PE aggregate crossed onto
                             # the one-row (N, trace) totals — both
                             # derived from the bounded |langs|^2
                             # confusion matrix
    "curriculum_order": 3,   # quality_filter's two one-row crosses,
                             # plus the scored frame feeding BOTH the
                             # decile aggregate and the final bucket
                             # projection (the token-total cross
                             # appears once per subtree) — all one-row
                             # broadcast dimensions
    "minhash_eval": 2,       # three ONE-ROW count aggregates crossed
                             # into the single metrics row (the
                             # tfidf/bm25 one-row broadcast pattern)
    "mcc_eval": 1,           # the kappa_eval shape: one-row marginal
                             # sums crossed onto the one-row
                             # (N, trace) totals, both from the
                             # bounded |langs|^2 confusion matrix
    "spearman_eval": 1,      # ivf_trained's one bounded probe-scoring
                             # cross (the rbo_eval composition; the bf
                             # side's cross compiles away)
    # (kendall_eval: the k-bounded common set is localCheckpoint'ed —
    # the upstream crosses run eagerly inside the operator, so the
    # returned plan is checkpoint-scan + bounded self-join: 0 crosses)
    "rrf_fusion": 1,         # same composition (fuses bf + trained
                             # IVF rankings)
    # (kmeans_clusters: the final Lloyd assignment is a map-only
    # inlined-literal argmin now — zero crosses)
    "ari_eval": 2,           # the mcc_eval shape one step wider: the
                             # one-row (n, Σij-pairs) totals crossed
                             # with the one-row row- and column-
                             # marginal pair sums, all three from the
                             # bounded |langs|^2 confusion matrix
    "krippendorff_alpha": 1,  # one-row (units, mismatch) totals
                             # crossed onto the one-row |labels|-sized
                             # marginal aggregate
    # (bleu_eval: lengths ride in the per-order totals now — t1 IS
    # Σ len — so the lens cross is gone: 0 crosses)
}


def _query_names():
    import __spark_entry__ as entrymod
    return sorted(entrymod.queries().keys())


@pytest.mark.parametrize("name", _query_names())
def test_query_plan_has_no_fatal_scale_smell(spark, name):
    import __spark_entry__ as entrymod
    from datafusion_geo_spark.plans.audit import assert_scalable
    df = entrymod.queries()[name](spark, SF_DIR)
    allowed = ALLOWED_BROADCAST_CROSSES.get(name, 0)
    a = assert_scalable(df, allow_broadcast_cross=allowed)
    # The allowance is exact: fewer crosses than vouched means the vouch
    # list is stale — tighten it rather than leave headroom.
    assert a.broadcast_crosses == allowed, (
        f"{name}: {a.broadcast_crosses} broadcast crosses, "
        f"allowance says {allowed} — update ALLOWED_BROADCAST_CROSSES")
