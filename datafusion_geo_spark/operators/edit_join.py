"""Edit-distance similarity self-join for short string fields.

The fuzzy-matching workhorse of record linkage and near-duplicate
curation of SHORT fields (titles, names, product labels): all pairs of
distinct strings within Levenshtein distance ``k`` — without ever
forming the cross product, which cannot survive 100 TB.

Blocking is the deletion-neighborhood scheme (FastSS, Bocek et al.
2007; popularized as SymSpell): an optimal alignment with ≤ k edit
operations deletes ≤ k characters from EACH side to reach a common
string (a substitution deletes one from each, an insert/delete one
from one side), so

    lev(a, b) ≤ k  ⟹  del≤k(a) ∩ del≤k(b) ≠ ∅ .

Each distinct string therefore emits its ≤ k-deletion variants
(C(L, ≤k) per string — bounded fan-out for the short fields this
operator is for), candidates come from ONE hash equi-join on the
variant key, and the exact filter is Spark's built-in JVM
``levenshtein`` on the deduplicated candidate pairs. The whole plan is
native expressions — explode → equi-join → grouped dedup → codegen'd
verify — zero Python anywhere.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from . import util

__all__ = ["edit_distance_join", "deletion_variants"]


def _del1(s: Column) -> Column:
    """All single-character deletions of ``s`` (array<string>; empty
    for the empty string). The zero-length case needs an explicit
    guard: ``sequence(1, 0)`` yields a DESCENDING [1, 0] in Spark,
    not an empty array, which would emit two '' variants."""
    return F.when(
        F.length(s) >= F.lit(1),
        F.transform(
            F.sequence(F.lit(1), F.length(s)),
            lambda i: F.concat(F.substring(s, F.lit(1), i - F.lit(1)),
                               F.substr(s, i + F.lit(1))))
    ).otherwise(F.expr("array()").cast("array<string>"))


def deletion_variants(s: Column, k: int) -> Column:
    """The ≤ k-deletion neighborhood of ``s`` as a DISTINCT
    array<string> (includes ``s`` itself — the 0-deletion variant).
    Built JVM-side: k=1 is one transform over positions; k=2 flattens
    deletions-of-deletions. Duplicate variants (deleting repeated
    characters) collapse with array_distinct so the join fan-out is
    the true neighborhood size. Supported k: 1 or 2 — the useful
    range for short fields (k ≥ 3 on short strings matches almost
    everything; use a token-level similarity instead)."""
    if k not in (1, 2):
        raise ValueError(f"deletion_variants: k must be 1 or 2, got {k}")
    v1 = _del1(s)
    out = F.concat(F.array(s), v1)
    if k == 2:
        # distinct the 1-deletion layer BEFORE expanding: deleting
        # either copy of a doubled character yields the same string,
        # and expanding both would square the duplicate work
        out = F.concat(out,
                       F.flatten(F.transform(F.array_distinct(v1), _del1)))
    return F.array_distinct(out)


def edit_distance_join(df: DataFrame, col: str, k: int = 2) -> DataFrame:
    """All unordered pairs of DISTINCT non-empty values of ``col``
    within Levenshtein distance ``k``: output (a, b, dist) with
    a < b and dist ≤ k.

    Plan: distinct strings (corpus-frequency skew collapses here) →
    explode the ≤ k-deletion neighborhood → self-equi-join on the
    md5-hashed variant key (a 64-bit key keeps shuffle rows narrow;
    a hash collision only adds a candidate pair that the exact filter
    removes) → grouped dedup of pairs sharing several variants →
    built-in ``levenshtein`` verify, entirely inside codegen. The
    length filter |len(a) − len(b)| ≤ k prunes candidates before the
    pair dedup shuffle."""
    s = (df.select(F.col(col).cast("string").alias("s"))
         .where(F.col("s").isNotNull() & (F.trim(F.col("s")) != ""))
         .distinct())
    # the variant key is INTERNAL: any hash gives the identical output
    # (a collision only adds a candidate the exact levenshtein filter
    # removes; same-string variants always collide-by-design), so use
    # the codegen'd xxhash64 instead of md5-hex→conv (r11, guide §4.1)
    with util.cache_scope() as scope:
        # cached: both sides of the variant self-join scan ``ex``
        ex, _ = scope.cache(
            s.select("s", F.length("s").alias("_len"),
                     F.explode(deletion_variants(F.col("s"), k))
                     .alias("_v"))
            .select("s", "_len", F.xxhash64(F.col("_v")).alias("_vh")))
        a = ex.select(F.col("s").alias("a"), F.col("_len").alias("_la"),
                      "_vh")
        b = ex.select(F.col("s").alias("b"), F.col("_len").alias("_lb"),
                      "_vh")
        cand = (a.join(b, "_vh")
                .where((F.col("a") < F.col("b"))
                       & (F.abs(F.col("_la") - F.col("_lb")) <= F.lit(k)))
                .select("a", "b").distinct())
        out = (cand.withColumn("dist", F.levenshtein("a", "b")
                               .cast("long"))
               .where(F.col("dist") <= F.lit(k)))
        # the (small) verified pair set, materialized while ``ex`` is held
        return out.localCheckpoint(eager=True)
