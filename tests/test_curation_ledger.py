"""Staging and job pins for one curation-ledger apply.

`curated_upsert_ledger` returns five frames that its callers write one
after another (`cli.py curate-ledger-apply`, the streaming sink).  The
keepers and the pair table come back staged, so the writes that follow
read them instead of re-running the both-directions near-dup probe.
These tests pin the per-write job counts that staging buys and the jobs
of one whole apply, at sf0.001 under the suite's session with a cleared
cache.  Counts move by a job or two between identical runs, so each
bound that is not exact carries two jobs of slack over the most seen.
"""

from __future__ import annotations

import os

import pytest

from export_oltp_to_olap_spark.plans import curation as C

LEDGER_TABLES = ("keepers", "losers", "pairs", "sets")
OUTPUTS = LEDGER_TABLES + ("curated",)

# Jobs of writing the curated rows after the staged pair table; 6 seen.
CURATED_WRITE_JOBS = 8
# Jobs of one apply, the call plus the five writes; 61-62 seen.
APPLY_JOBS = 64


def _jobs(spark, group, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def ledger_batch(spark, sf0001, tmp_path_factory):
    """A persisted standing ledger over sf0.001 and one batch of
    deletes, re-texts, a verbatim copy of a larger id and an insert."""
    root = str(tmp_path_factory.mktemp("ledger"))
    docs = spark.read.parquet(os.path.join(sf0001, "documents.parquet")).select(
        "doc_id", "text"
    )
    for name, df in zip(
        LEDGER_TABLES, C.curation_standing_ledger(docs, return_sets=True)
    ):
        df.write.parquet(os.path.join(root, f"{name}.parquet"))
    ledger = {
        n: spark.read.parquet(os.path.join(root, f"{n}.parquet"))
        for n in LEDGER_TABLES
    }
    rows = docs.orderBy("doc_id").collect()
    deleted = spark.createDataFrame(
        [(r.doc_id,) for r in rows if r.doc_id % 11 == 0], "doc_id long"
    )
    changed = spark.createDataFrame(
        [
            (r.doc_id, r.text + " zz edit")
            for r in rows
            if r.doc_id % 7 == 0 and r.doc_id % 11
        ]
        + [
            (rows[3].doc_id, rows[4].text),
            (rows[-1].doc_id + 10, rows[20].text + " ins"),
        ],
        "doc_id long, text string",
    )
    return ledger, deleted, changed


def _apply(ledger_batch):
    ledger, deleted, changed = ledger_batch
    return C.curated_upsert_ledger(
        deleted,
        changed,
        ledger["keepers"],
        ledger["losers"],
        ledger["pairs"],
        standing_sets=ledger["sets"],
    )


def _writer(df, path):
    return lambda: df.write.mode("overwrite").parquet(path)


def test_ledger_writes_read_staged_frames(spark, ledger_batch, tmp_path):
    """Keepers and pairs are staged and the sets table is the probe's
    cached union, so each write is one job; the curated rows then read
    the staged frames instead of re-running the probe."""
    spark.catalog.clearCache()
    out = dict(zip(OUTPUTS, _apply(ledger_batch)))
    jobs = {
        name: _jobs(
            spark,
            f"ledger-write-{name}",
            _writer(out[name], str(tmp_path / name)),
        )
        for name in ("keepers", "pairs", "sets", "curated")
    }
    assert jobs["keepers"] == 1, jobs
    assert jobs["pairs"] == 1, jobs
    assert jobs["sets"] == 1, jobs
    assert 0 < jobs["curated"] <= CURATED_WRITE_JOBS, jobs


def test_ledger_apply_job_count_pinned(spark, ledger_batch, tmp_path):
    """One apply, the call and the five writes in the order a caller
    persists the next ledger, runs at most APPLY_JOBS jobs."""
    spark.catalog.clearCache()

    def apply_and_write():
        for name, df in zip(OUTPUTS, _apply(ledger_batch)):
            df.write.mode("overwrite").parquet(str(tmp_path / name))

    jobs = _jobs(spark, "ledger-apply", apply_and_write)
    assert 0 < jobs <= APPLY_JOBS, jobs
