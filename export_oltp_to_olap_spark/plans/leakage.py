"""Train/test leakage through near-duplicates — measure it, then fix it.

A hash-range split on ``doc_id`` (`operators/sampling.py::assign_splits`)
is reproducible and append-stable, but it knows nothing about CONTENT:
two near-duplicate documents hash independently, so a template family
can straddle train and test and the eval set silently contains
paraphrases of training rows.  This is the standard contamination
channel benchmark decontamination (`operators/decontam.py`) does not
cover, because the "benchmark" here is your own held-out split.

Two faces:
* :func:`split_leakage_report` — MEASURE: near-dup pairs bucketed by the
  (unordered) split pair they straddle; off-diagonal rows ARE the leak.
* :func:`leakage_safe_split_summary` — FIX: assign splits by the
  near-dup CLUSTER's canonical id instead of the doc id, so every
  member of a dup family lands in the same split by construction
  (cross-split near-dup pairs = 0, asserted in tests).  Trade: split
  fractions now apportion CLUSTERS, not docs — sizes drift by the dup
  rate; the summary reports both counts so the drift is visible.

Scale: both faces consume the banded MinHash-LSH pair list (already
subquadratic, `operators/neardup.py`); the report adds two doc_id hash
joins on the pair set and a ≤9-cell agg, the safe assignment adds the
cluster closure (iterative min-label, rounds = component diameter) and
a map-side split expression on the canonical id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from export_oltp_to_olap_spark.operators.diff import SURVIVORS_CTE, tombstoned
from export_oltp_to_olap_spark.operators.neardup import (
    _CLUSTERS_CTES,
    _MINHASH_PAIRS_CTES,
    minhash_lsh_neardup,
    minhash_neardup_clusters,
    neardup_clusters,
    neardup_clusters_retract,
)
from export_oltp_to_olap_spark.operators.sampling import assign_splits
from export_oltp_to_olap_spark.operators.staging import stage_fanout


def split_leakage_report(documents: DataFrame) -> DataFrame:
    """(split_a, split_b, n_pairs): near-dup pairs per unordered split
    pair under the standard doc_id hash split.  Diagonal rows are safe
    co-located duplicates; off-diagonal rows are train/test leakage."""
    pairs = minhash_lsh_neardup(documents)
    sp = assign_splits(documents.select("doc_id"), "doc_id")
    a = sp.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sp_a"))
    b = sp.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sp_b"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            F.least("sp_a", "sp_b").alias("split_a"),
            F.greatest("sp_a", "sp_b").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("split_a", "split_b")
    )


def leakage_safe_split_summary(documents: DataFrame) -> DataFrame:
    """(split, n_docs, n_clusters) under CLUSTER-keyed split assignment:
    every doc inherits its near-dup component's canonical id as the
    split key, so dup families cannot straddle splits."""
    clusters = minhash_neardup_clusters(documents)
    return (
        assign_splits(clusters, "canonical_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("canonical_id").alias("n_clusters"),
        )
        .orderBy("split")
    )


def leakage_fix_report(documents: DataFrame) -> DataFrame:
    """(scheme, n_cross_pairs): near-dup pairs straddling two different
    splits under each assignment scheme — ``doc_hash`` (the standard
    per-doc hash split; its count IS the leak) vs ``cluster_keyed``
    (the fix; provably 0 because both members of any pair share a
    component, hence a canonical id, hence a split).  One driver-checked
    row pair stating measurement AND remedy — the summary faces report
    sizes, this reports the actual contamination channel closing.

    Scale: one banded pair list + one cluster closure, each computed
    once and joined twice against map-side split expressions — the pair
    list is staged and FED to the closure (`neardup_clusters`), so
    neither is re-derived per scheme."""
    pairs = stage_fanout(minhash_lsh_neardup(documents).select("doc_a", "doc_b"))
    doc_sp = assign_splits(documents.select("doc_id"), "doc_id")
    clus_sp = assign_splits(
        neardup_clusters(documents, pairs).select("doc_id", "canonical_id"),
        "canonical_id",
    ).select("doc_id", "split")

    def cross_count(sp: DataFrame, scheme: str) -> DataFrame:
        a = sp.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sp_a"))
        b = sp.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sp_b"))
        return (
            pairs.join(a, "doc_a")
            .join(b, "doc_b")
            .agg(
                # coalesce: an empty pair list must report 0, not NULL
                F.coalesce(
                    F.sum((F.col("sp_a") != F.col("sp_b")).cast("long")), F.lit(0)
                )
                .cast("bigint")
                .alias("n_cross_pairs")
            )
            .select(F.lit(scheme).alias("scheme"), "n_cross_pairs")
        )

    return (
        cross_count(doc_sp, "doc_hash")
        .unionByName(cross_count(clus_sp, "cluster_keyed"))
        .orderBy("scheme")
    )


def _split_case(key: str) -> str:
    """The DuckDB restatement of `assign_splits`' default 80/10/10 hash
    ranges over ``key`` (thresholds = the same 16-bit bucket cuts)."""
    bucket = f"CAST('0x' || substr(md5('split:' || CAST({key} AS VARCHAR)), 1, 4) AS INTEGER)"
    return f"""CASE
           WHEN {bucket} < 52428 THEN 'train'
           WHEN {bucket} < 58982 THEN 'val'
           ELSE 'test'
         END"""


SPLIT_LEAKAGE_SQL = f"""
WITH {_MINHASH_PAIRS_CTES},
sp AS (
  SELECT doc_id, {_split_case("doc_id")} AS split FROM documents
),
cells AS (
  SELECT least(sa.split, sb.split) AS split_a,
         greatest(sa.split, sb.split) AS split_b
  FROM pairs p
  JOIN sp sa ON sa.doc_id = p.doc_a
  JOIN sp sb ON sb.doc_id = p.doc_b
)
SELECT split_a, split_b, count(*) AS n_pairs
FROM cells
GROUP BY split_a, split_b
ORDER BY split_a, split_b
"""

LEAKAGE_SAFE_SPLIT_SQL = f"""
WITH RECURSIVE {_CLUSTERS_CTES}
SELECT {_split_case("canonical_id")} AS split,
       count(*) AS n_docs,
       count(DISTINCT canonical_id) AS n_clusters
FROM allc
GROUP BY 1
ORDER BY split
"""

LEAKAGE_FIX_SQL = f"""
WITH RECURSIVE {_CLUSTERS_CTES},
doc_sp AS (
  SELECT doc_id, {_split_case("doc_id")} AS split FROM documents
),
clus_sp AS (
  SELECT doc_id, {_split_case("canonical_id")} AS split FROM allc
),
both_schemes AS (
  SELECT 'doc_hash' AS scheme,
         CAST(coalesce(sum(CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_cross_pairs
  FROM pairs p
  JOIN doc_sp sa ON sa.doc_id = p.doc_a
  JOIN doc_sp sb ON sb.doc_id = p.doc_b
  UNION ALL
  SELECT 'cluster_keyed',
         CAST(coalesce(sum(CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END), 0)
              AS BIGINT)
  FROM pairs p
  JOIN clus_sp sa ON sa.doc_id = p.doc_a
  JOIN clus_sp sb ON sb.doc_id = p.doc_b
)
SELECT scheme, n_cross_pairs FROM both_schemes ORDER BY scheme
"""


# ---------------------------------------------------------------------------
# Delete-aware cluster-keyed splits
# ---------------------------------------------------------------------------
#
# The cluster-keyed assignment's split key is the component CANONICAL —
# so deletes have a failure mode the doc-hash split cannot have: deleting
# a canonical (or a bridge doc) re-elects/splits components, and every
# member of an affected component may change split.  The retract keeps
# the fix's invariant (no dup family ever straddles splits — both members
# of any surviving pair still share a canonical) while touching only the
# clusters the delete batch hits: unaffected components keep their
# canonical, hence their split, byte-stable.  That stability trade is the
# documented one: doc-hash splits never move but leak; cluster-keyed
# splits are leak-free and move only inside delete-affected families.


def leakage_safe_split_retract(
    documents: DataFrame,
    deleted_ids: DataFrame | None = None,
    standing_labels: DataFrame | None = None,
    standing_sets: DataFrame | None = None,
    standing_bands: DataFrame | None = None,
) -> DataFrame:
    """Per-doc cluster-keyed split map after a delete batch:
    ``(doc_id, canonical_id, split)`` over the survivors, canonical and
    split recomputed ONLY inside delete-affected components
    (`neardup_clusters_retract` does the scoped re-pair/re-election;
    the split is a map-side hash of the resulting canonical).  The
    registered face derives its standing cluster map in-call and
    deletes the shared fixture batch (`tombstoned`); the ORACLE is the
    full cluster + split SQL over the surviving corpus — retract ≡
    rebuild-after-delete.

    In-call bootstrap: the standing-label build already computes the
    full verified pair table, so it is staged once and threaded into
    the retract as ``standing_pairs`` — the scoped re-pair becomes two
    joins of those rows instead of a second LSH pipeline over the
    affected survivors.  Steady state instead passes the persisted
    ``standing_labels`` + ``standing_sets``/``standing_bands``
    (`neardup_standing_index` rows) and the plan is the affected-scope
    joins + re-propagation only.
    """
    if deleted_ids is None:
        deleted_ids = tombstoned(documents.select("doc_id"))
    standing_pairs = None
    if standing_labels is None:
        standing_pairs = stage_fanout(
            minhash_lsh_neardup(documents).select("doc_a", "doc_b")
        )
        standing_labels = neardup_clusters(documents, standing_pairs)
    relabeled = neardup_clusters_retract(
        documents,
        deleted_ids,
        standing_labels,
        standing_sets=standing_sets,
        standing_bands=standing_bands,
        standing_pairs=standing_pairs,
    )
    return (
        assign_splits(relabeled.select("doc_id", "canonical_id"), "canonical_id")
        .select("doc_id", "canonical_id", "split")
        .orderBy("doc_id")
    )


LEAKAGE_SPLIT_RETRACT_SQL = f"""
WITH RECURSIVE {SURVIVORS_CTE},
{_CLUSTERS_CTES.replace("FROM documents", "FROM survivors")}
SELECT a.doc_id, a.canonical_id, {_split_case("a.canonical_id")} AS split
FROM allc a
ORDER BY a.doc_id
"""
