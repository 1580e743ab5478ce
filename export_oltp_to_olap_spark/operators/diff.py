"""Snapshot diff — row-level reconciliation between two table versions.

The reference pipeline trusts its upserts blindly: there is no tool to
answer "how does the OLAP copy differ from what the OLTP source says
RIGHT NOW?" (the reference's full sync just rewrites everything,
`sync_oltp_to_olap.py:357-404`).  A production migration needs the
diff itself: which keys were added, which disappeared, which changed —
and in which columns — between snapshot A and snapshot B.  That is
also the audit primitive for validating an incremental pipeline
against a rebuild (the SCD2 delta-merge and CDC convergence tests do
exactly this comparison, ad hoc; this operator is the reusable form).

Shape: one FULL OUTER join on the key columns (sort-merge when neither
side is small — the planner's call), null-safe per-column comparison
(`IS DISTINCT FROM` semantics via ``eqNullSafe``), and a compact
``changed_cols`` comma-joined list so the output survives a
cross-engine value hash.  Unchanged rows are dropped before anything
else happens to them — the diff of two near-identical 100 TB snapshots
is small, and the filter sits directly on the join output so nothing
downstream sees the matched bulk.

Scale (100 TB): the join shuffles both sides by key once; there is no
row-vs-row state beyond the hash/sort machinery Spark already uses.
If the snapshots are bucketed on the key (``sources/bucketed.py``) the
Exchange disappears entirely.  Column comparisons are per-row
expressions — no UDFs, fully codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ADDED = "added"
REMOVED = "removed"
CHANGED = "changed"


def snapshot_diff(
    a: DataFrame,
    b: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Rows of B-vs-A drift: (key…, status, changed_cols, then B's values
    for changed/added rows and A's for removed ones).

    ``compare_cols`` defaults to every shared non-key column.  Output
    contains ONLY drifted rows — identical rows never leave the join.
    """
    if compare_cols is None:
        shared = [c for c in a.columns if c in set(b.columns)]
        compare_cols = [c for c in shared if c not in set(key_cols)]

    # Explicit presence markers: inferring a side's presence from its
    # payload columns being non-null breaks on all-null payload rows.
    left = a.select(
        *key_cols, *[F.col(c).alias(f"a_{c}") for c in compare_cols]
    ).withColumn("_a_present", F.lit(True))
    right = b.select(
        *key_cols, *[F.col(c).alias(f"b_{c}") for c in compare_cols]
    ).withColumn("_b_present", F.lit(True))
    joined = left.join(right, on=key_cols, how="full_outer")

    def col_changed(c: str) -> Column:
        return ~F.col(f"a_{c}").eqNullSafe(F.col(f"b_{c}"))

    changed_any = F.lit(False)
    for c in compare_cols:
        changed_any = changed_any | col_changed(c)

    status = (
        F.when(F.col("_a_present").isNull(), F.lit(ADDED))
        .when(F.col("_b_present").isNull(), F.lit(REMOVED))
        .when(changed_any, F.lit(CHANGED))
    )
    changed_cols = F.concat_ws(
        ",",
        F.filter(
            F.array(
                *[
                    F.when(
                        F.col("_a_present").isNotNull()
                        & F.col("_b_present").isNotNull()
                        & col_changed(c),
                        F.lit(c),
                    )
                    for c in compare_cols
                ]
            ),
            lambda x: x.isNotNull(),
        ),
    )
    # B's view of the row for added/changed, A's for removed.
    surviving = [
        F.when(F.col("_a_present").isNull() | F.col("_b_present").isNotNull(), F.col(f"b_{c}"))
        .otherwise(F.col(f"a_{c}"))
        .alias(c)
        for c in compare_cols
    ]
    return (
        joined.withColumn("status", status)
        .where(F.col("status").isNotNull())
        .select(*key_cols, "status", changed_cols.alias("changed_cols"), *surviving)
    )


def apply_diff(
    a: DataFrame,
    diff: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Reconstruct snapshot B from snapshot A plus a ``snapshot_diff``
    output: drop removed keys, overwrite changed rows, add new ones.

    The transport form of replication: compute the (small) diff where
    both snapshots live, ship it, apply it where only A lives —
    bandwidth ∝ drift, not table size.  Roundtrip law, property-tested:
    ``apply_diff(a, snapshot_diff(a, b), …) ≡ b`` row-for-row.

    One anti-join (drop removed/changed originals) + one union — the
    diff side is small by construction, so the anti-join broadcasts.
    """
    removed_or_changed = diff.where(
        F.col("status").isin(REMOVED, CHANGED)
    ).select(*key_cols)
    incoming = diff.where(F.col("status").isin(ADDED, CHANGED)).select(
        *key_cols, *compare_cols
    )
    kept = a.select(*key_cols, *compare_cols).join(
        F.broadcast(removed_or_changed), key_cols, "left_anti"
    )
    return kept.unionByName(incoming)


def diff_summary(diff: DataFrame) -> DataFrame:
    """(status, n_rows) rollup of a snapshot_diff output."""
    return (
        diff.groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# Incremental maintenance of standing aggregates, and the fixture batches
# every *_delta / *_retract face slices from one snapshot
# ---------------------------------------------------------------------------


def maintain_monoid(
    standing: DataFrame,
    keys: list[str],
    measures: list[str],
    added: DataFrame | None = None,
    removed: DataFrame | None = None,
) -> DataFrame:
    """Apply a batch to a standing keyed aggregate whose measures are
    sums: ``standing + added − removed`` per key.

    Exact for any aggregate a document contributes to additively (doc
    counts, token sums), so nothing re-reads the standing corpus.  The
    first measure must count contributors: a key whose count falls to
    zero has none left and leaves the table, as it would in a rebuild.
    ``removed`` must hold contributions that ``standing`` contains, so
    it is subtracted through a left join, which keeps the standing
    side's key partitioning; a union and re-aggregation measured one
    more stage per merge.  Measure types follow ``standing``."""
    types = standing.schema
    out = standing.select(*keys, *measures)
    if added is not None:
        out = (
            out.unionByName(added.select(*keys, *measures))
            .groupBy(*keys)
            .agg(*[F.sum(m).alias(m) for m in measures])
        )
    if removed is not None:
        rm = removed.select(*keys, *[F.col(m).alias(f"_rm_{m}") for m in measures])
        out = out.join(rm, keys, "left").select(
            *keys,
            *[(F.col(m) - F.coalesce(F.col(f"_rm_{m}"), F.lit(0))).alias(m) for m in measures],
        )
    return out.select(
        *keys, *[F.col(m).cast(types[m].dataType).alias(m) for m in measures]
    ).where(F.col(measures[0]) > 0)


DELTA_CUT_FRACTION = 0.9  # fixture append batch: ids above ⌊0.9·max⌋
RETRACT_MOD = 10  # fixture delete batch: every 10th id

# The oracles' restatement of the delete batch: a ``survivors`` CTE that
# replaces the raw ``documents`` scan of the rebuild statement.
SURVIVORS_CTE = f"""survivors AS (
  SELECT * FROM documents WHERE doc_id % {RETRACT_MOD} <> 0
)"""


def delta_cut(docs: DataFrame) -> DataFrame:
    """One-row ``(cut)`` frame: ⌊DELTA_CUT_FRACTION · max(doc_id)⌋."""
    return docs.agg(
        F.floor(F.lit(DELTA_CUT_FRACTION) * F.max("doc_id")).alias("cut")
    )


def split_at_cut(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``(standing, delta)``: ids at or below :func:`delta_cut`, and the
    ids above it.  Every delta id exceeds every standing id, the
    append-only precondition of the delta faces."""
    cut = F.broadcast(delta_cut(docs))
    standing = docs.join(cut, F.col("doc_id") <= F.col("cut")).drop("cut")
    delta = docs.join(cut, F.col("doc_id") > F.col("cut")).drop("cut")
    return standing, delta


def tombstoned(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """The fixture delete batch: rows whose id is a multiple of
    RETRACT_MOD."""
    return docs.where(F.col(id_col) % RETRACT_MOD == 0)


# ---------------------------------------------------------------------------
# Fixture face — a deterministic "revised snapshot" of `customer` so the
# diff has a cross-engine oracle: drop keys %89, bump acctbal on %97,
# re-segment %61, add shifted copies of %101.
# ---------------------------------------------------------------------------

DIFF_COMPARE_COLS = ["c_acctbal", "c_mktsegment", "c_nationkey"]


def revised_customer_snapshot(customer: DataFrame) -> DataFrame:
    base = customer.select("c_custkey", *DIFF_COMPARE_COLS)
    survivors = base.where(F.col("c_custkey") % 89 != 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 97 == 0, F.col("c_acctbal") + F.lit(100.0))
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
        F.when(F.col("c_custkey") % 61 == 0, F.lit("MIGRATED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        "c_nationkey",
    )
    arrivals = base.where(F.col("c_custkey") % 101 == 0).select(
        (F.col("c_custkey") + F.lit(1_000_000)).alias("c_custkey"), *DIFF_COMPARE_COLS
    )
    return survivors.unionByName(arrivals)


def snapshot_diff_customers(customer: DataFrame) -> DataFrame:
    a = customer.select("c_custkey", *DIFF_COMPARE_COLS)
    b = revised_customer_snapshot(customer)
    return snapshot_diff(a, b, ["c_custkey"], DIFF_COMPARE_COLS).orderBy("c_custkey")


def _changed_case_sql(col: str) -> str:
    return (
        f"CASE WHEN a.c_custkey IS NOT NULL AND b.c_custkey IS NOT NULL "
        f"AND a.{col} IS DISTINCT FROM b.{col} THEN '{col}' END"
    )


SNAPSHOT_DIFF_SQL = f"""
WITH a AS (
  SELECT c_custkey, c_acctbal, c_mktsegment, c_nationkey FROM customer
),
b AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 97 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal,
         CASE WHEN c_custkey % 61 = 0 THEN 'MIGRATED' ELSE c_mktsegment END AS c_mktsegment,
         c_nationkey
  FROM customer WHERE c_custkey % 89 <> 0
  UNION ALL
  SELECT c_custkey + 1000000, c_acctbal, c_mktsegment, c_nationkey
  FROM customer WHERE c_custkey % 101 = 0
)
SELECT COALESCE(a.c_custkey, b.c_custkey) AS c_custkey,
       CASE WHEN a.c_custkey IS NULL THEN 'added'
            WHEN b.c_custkey IS NULL THEN 'removed'
            ELSE 'changed' END AS status,
       concat_ws(',', {_changed_case_sql("c_acctbal")},
                      {_changed_case_sql("c_mktsegment")},
                      {_changed_case_sql("c_nationkey")}) AS changed_cols,
       CASE WHEN a.c_custkey IS NULL OR b.c_custkey IS NOT NULL
            THEN b.c_acctbal ELSE a.c_acctbal END AS c_acctbal,
       CASE WHEN a.c_custkey IS NULL OR b.c_custkey IS NOT NULL
            THEN b.c_mktsegment ELSE a.c_mktsegment END AS c_mktsegment,
       CASE WHEN a.c_custkey IS NULL OR b.c_custkey IS NOT NULL
            THEN b.c_nationkey ELSE a.c_nationkey END AS c_nationkey
FROM a FULL OUTER JOIN b ON a.c_custkey = b.c_custkey
WHERE a.c_custkey IS NULL OR b.c_custkey IS NULL
   OR a.c_acctbal IS DISTINCT FROM b.c_acctbal
   OR a.c_mktsegment IS DISTINCT FROM b.c_mktsegment
   OR a.c_nationkey IS DISTINCT FROM b.c_nationkey
ORDER BY c_custkey
""".strip()
