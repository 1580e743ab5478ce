"""Idempotent merge/upsert for the batch harness (parquet targets).

The reference's cross-batch semantics: new data overwrites stored rows
with the same key, untouched keys survive (Postgres ON CONFLICT, ref
``sync_oltp_to_olap.py:56-93``).  On a parquet lake without table-format
transactions the equivalent is read-modify-write:

    merged = latest_by_key(new ∪ current, keys, [is_new desc, tiebreak])

then a near-atomic directory swap (write aside, rename the current table
aside, rename the new one in — a crash mid-swap leaves the previous table
recoverable aside, never zero copies; true atomicity needs a table format
or a filesystem with atomic dir-exchange).  With
Delta/Iceberg on a real deployment this whole module collapses to
``MERGE INTO`` (SURVEY.md §4.3.1); the parquet path keeps the same
semantics dependency-free for the harness.

K1 note (ref :406-410): the reference commits all 7 tables in one OLAP
transaction.  Parquet gives per-table atomicity only; ``merge_star``
merges the dims concurrently, then the fact once every dim merge has
succeeded, so readers never see a fact whose FK dimensions haven't
landed (the dims-before-facts order of ref :337-345).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from export_oltp_to_olap_spark.operators.dedup import latest_by_key


def merge_into_parquet(
    spark: SparkSession,
    new_rows: DataFrame,
    path: str,
    keys: Sequence[str],
    tiebreak: Sequence[str] = (),
) -> None:
    """Upsert ``new_rows`` into the parquet table at ``path`` by ``keys``.

    New rows win over stored rows with the same key; within ``new_rows``
    the ``tiebreak`` columns (descending) pick the winner, making the
    reference's scan-order-dependent LWW deterministic (SURVEY.md §7.4).
    """
    _recover_crashed_swap(path)
    if os.path.exists(path):
        current = spark.read.parquet(path).select(*new_rows.columns)
        unioned = new_rows.withColumn("__src", F.lit(1)).unionByName(
            current.withColumn("__src", F.lit(0))
        )
    else:
        unioned = new_rows.withColumn("__src", F.lit(1))
    order = [F.col("__src").desc()] + [F.col(t).desc() for t in tiebreak]
    merged = latest_by_key(unioned, keys, order).drop("__src")
    _swap_write(merged, path)


def _recover_crashed_swap(path: str) -> None:
    old = f"{path}.__old_merge"
    if not os.path.exists(path) and os.path.exists(old):
        # A previous swap crashed between its two renames; the pre-swap
        # table is intact aside — restore it before reading.
        os.rename(old, path)


def _swap_write(df: DataFrame, path: str) -> None:
    """Replace the parquet table at ``path`` with ``df``, near-atomically.

    Swap via rename-aside: write tmp → move current aside → move tmp in
    → drop the aside copy.  `tmp`/`old` share `path`'s parent directory,
    so every rename stays on one filesystem.  A crash mid-swap leaves the
    previous table intact at `<path>.__old_merge` (recoverable by hand or
    by the next merge); the rmtree-then-rename it replaces had a window
    where the table existed nowhere.
    """
    old = f"{path}.__old_merge"
    tmp = f"{path}.__tmp_merge"
    df.write.mode("overwrite").parquet(tmp)
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def delete_from_parquet(
    spark: SparkSession,
    path: str,
    keys_df: DataFrame,
    keys: Sequence[str],
) -> None:
    """Tombstone rows of the parquet table at ``path`` whose ``keys``
    columns match any row of ``keys_df`` — the DELETE complement of
    ``merge_into_parquet`` (same swap discipline, same per-table
    atomicity).  ``keys_df`` is broadcast: it is a changed-key set (CDC
    micro-batch sized), never table-sized.  With Delta/Iceberg this is
    ``DELETE FROM t WHERE key IN (...)``; at 100 TB prefer the
    partition-pruned variant of the same anti-join when the key implies
    the partition.

    Missing table = no-op (nothing to delete)."""
    _recover_crashed_swap(path)
    if not os.path.exists(path):
        return
    current = spark.read.parquet(path)
    remaining = current.join(
        F.broadcast(keys_df.select(*keys).distinct()), on=list(keys), how="left_anti"
    )
    _swap_write(remaining, path)


def merge_into_partitioned_parquet(
    spark: SparkSession,
    new_rows: DataFrame,
    path: str,
    keys: Sequence[str],
    partition_cols: Sequence[str],
    tiebreak: Sequence[str] = (),
) -> None:
    """Partition-pruned upsert: rewrite ONLY the partitions the new rows
    touch, leaving every other partition's files untouched on disk.

    ``merge_into_parquet`` reads and rewrites the whole table per merge —
    O(table) work that is fine for dimension-sized targets and wrong for
    a 100 TB fact.  This variant requires each merge key to determine its
    partition (true for the star: the fact's date-derived partition is a
    function of ``id_tiempo``, a merge-key column), so an upserted key
    can only ever collide with stored rows in its own partition:

      1. affected = distinct partition values in ``new_rows`` (tiny);
      2. current slice = stored table WHERE partition ∈ affected —
         partition pruning makes this read O(affected), not O(table);
      3. LWW-dedup (new ∪ slice) exactly as the full merge does;
      4. write with ``partitionOverwriteMode=dynamic``: Spark stages and
         commits ONLY the partitions present in the output.

    Cost per merge: O(affected partitions + new rows), independent of
    total table size.  With Delta/Iceberg this is ``MERGE INTO`` with
    partition predicates; the parquet form keeps the harness
    dependency-free.
    """
    pcols = list(partition_cols)
    if os.path.exists(path):
        affected = new_rows.select(*pcols).distinct()
        current = (
            spark.read.parquet(path)
            .join(F.broadcast(affected), on=pcols, how="left_semi")
            .select(*new_rows.columns)
        )
        unioned = new_rows.withColumn("__src", F.lit(1)).unionByName(
            current.withColumn("__src", F.lit(0))
        )
    else:
        unioned = new_rows.withColumn("__src", F.lit(1))
    order = [F.col("__src").desc()] + [F.col(t).desc() for t in tiebreak]
    merged = latest_by_key(unioned, keys, order).drop("__src")

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        merged.write.mode("overwrite").partitionBy(*pcols).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
