"""Streaming CDC convergence: event feed → foreachBatch merges ≡ full
batch rebuild (the reference's converge-on-re-sync property, SURVEY.md
§2.I3, §5 item 3)."""

from __future__ import annotations

import contextlib
import dataclasses
import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from export_oltp_to_olap_spark.plans.fixtures_adapter import oltp_tables_from_fixtures
from export_oltp_to_olap_spark.plans.star import (
    STAR_WRITE_ORDER,
    build_star,
    merge_star,
    star_table_path,
    write_star,
)
from export_oltp_to_olap_spark.sources.parquet import load_tables
from export_oltp_to_olap_spark.streaming.cdc import apply_cdc_events, start_cdc_stream

SK = "xxhash64"  # incremental merges require slice-stable surrogate keys


@pytest.fixture(scope="module")
def oltp(spark, sf0001):
    tables = load_tables(
        spark, sf0001, ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
    )
    return oltp_tables_from_fixtures(tables)


@pytest.fixture(scope="module")
def full_star_tables(spark, oltp):
    star = build_star(oltp, sk_mode=SK)
    return {name: star.tables()[name].collect() for name in STAR_WRITE_ORDER}


def _rows(df_or_rows):
    rows = df_or_rows if isinstance(df_or_rows, list) else df_or_rows.collect()
    return sorted(tuple(r) for r in rows)


def _read_state(spark, target, name):
    return spark.read.parquet(star_table_path(target, name))


def _write_feed(feed_dir: str, fname: str, events: list[dict]) -> None:
    os.makedirs(feed_dir, exist_ok=True)
    with open(os.path.join(feed_dir, fname), "w") as f:
        for e in events:
            e.setdefault("op", "update")
            e.setdefault("ts", "2026-01-01 00:00:00")
            f.write(json.dumps(e) + "\n")


@pytest.mark.slow
def test_cdc_stream_cold_start_converges_to_full(
    spark, oltp, full_star_tables, tmp_path
):
    """Replay change events covering every source record into an EMPTY
    star; the merged state must equal the full batch build, table by
    table."""
    feed = str(tmp_path / "feed")
    target = str(tmp_path / "star")
    ckpt = str(tmp_path / "ckpt")

    orden_ids = [r[0] for r in oltp["orden"].select("id_orden").collect()]
    cliente_ids = [r[0] for r in oltp["clientes"].select("id_cliente").collect()]
    cat_ids = [r[0] for r in oltp["categoria"].select("id_categoria").collect()]
    prod_ids = [r[0] for r in oltp["productos"].select("id_producto").collect()]

    _write_feed(
        feed, "batch1.json", [{"table": "orden", "record_id": i} for i in orden_ids]
    )
    _write_feed(
        feed,
        "batch2.json",
        [{"table": "clientes", "record_id": i} for i in cliente_ids]
        + [{"table": "categoria", "record_id": i} for i in cat_ids]
        + [{"table": "productos", "record_id": i} for i in prod_ids],
    )

    q = start_cdc_stream(
        spark, feed, oltp, target, ckpt, available_now=True, max_files_per_trigger=1
    )
    q.awaitTermination()

    for name in STAR_WRITE_ORDER:
        got = _rows(_read_state(spark, target, name))
        want = _rows(full_star_tables[name])
        assert got == want, f"{name}: streamed state != full build"


def test_apply_cdc_idempotent_on_converged_state(
    spark, oltp, full_star_tables, tmp_path
):
    """Re-syncing any subset of records against a converged star is a
    no-op (reference README's open idempotency TODO, SURVEY.md §5)."""
    target = str(tmp_path / "star")
    write_star(build_star(oltp, sk_mode=SK), target)

    some_orders = [r[0] for r in oltp["orden"].select("id_orden").limit(7).collect()]
    batch = spark.createDataFrame(
        [("orden", "update", int(i)) for i in some_orders]
        + [("clientes", "update", int(some_orders[0]))],
        "table string, op string, record_id long",
    )
    apply_cdc_events(batch, oltp, target)

    for name in STAR_WRITE_ORDER:
        assert _rows(_read_state(spark, target, name)) == _rows(full_star_tables[name]), (
            f"{name}: converged state changed after re-sync"
        )


def test_unknown_table_triggers_full_sync(spark, oltp, full_star_tables, tmp_path):
    """An event for an unrecognized table falls back to a full rebuild
    (ref sync_oltp_to_olap.py:402-404) — even from an empty target."""
    target = str(tmp_path / "star")
    batch = spark.createDataFrame(
        [("mystery_table", "update", 1)], "table string, op string, record_id long"
    )
    apply_cdc_events(batch, oltp, target)
    for name in STAR_WRITE_ORDER:
        assert _rows(_read_state(spark, target, name)) == _rows(full_star_tables[name])


def test_null_record_id_triggers_full_sync(spark, oltp, full_star_tables, tmp_path):
    """Undecodable record ids → full sync, like the reference's tolerant
    payload parse (ref worker_sync.py:99-102)."""
    target = str(tmp_path / "star")
    batch = spark.createDataFrame(
        [("ventas", "update", None)], "table string, op string, record_id long"
    )
    apply_cdc_events(batch, oltp, target)
    assert _rows(_read_state(spark, target, "hecho_ventas")) == _rows(
        full_star_tables["hecho_ventas"]
    )


def test_over_cap_key_count_triggers_full_sync(spark, oltp, full_star_tables, tmp_path):
    """More distinct changed keys than max_keys → full rebuild fallback
    instead of an unbounded driver collect (VERDICT r2 item 6).  With the
    cap not exceeded, clientes events touch only dim_cliente — so a fact
    table appearing proves the fallback path ran."""
    target = str(tmp_path / "star")
    cliente_ids = [r[0] for r in oltp["clientes"].select("id_cliente").limit(5).collect()]
    batch = spark.createDataFrame(
        [("clientes", "update", int(i)) for i in cliente_ids],
        "table string, op string, record_id long",
    )
    apply_cdc_events(batch, oltp, target, max_keys=3)
    for name in STAR_WRITE_ORDER:
        assert _rows(_read_state(spark, target, name)) == _rows(full_star_tables[name])


def test_under_cap_clientes_events_stay_dim_only(spark, oltp, tmp_path):
    """Control for the cap test: the same clientes batch under the cap
    writes only dim_cliente (the dispatcher's dim-only routing)."""
    target = str(tmp_path / "star")
    cliente_ids = [r[0] for r in oltp["clientes"].select("id_cliente").limit(5).collect()]
    batch = spark.createDataFrame(
        [("clientes", "update", int(i)) for i in cliente_ids],
        "table string, op string, record_id long",
    )
    apply_cdc_events(batch, oltp, target, max_keys=100)
    assert os.path.exists(star_table_path(target, "dim_cliente"))
    assert not os.path.exists(star_table_path(target, "hecho_ventas"))


def test_dense_rank_sk_refused_for_incremental(spark, oltp, tmp_path):
    """dense_rank surrogate ids are slice-relative — merging them would
    corrupt stored state (SURVEY.md §7.4), so the CDC path refuses."""
    batch = spark.createDataFrame(
        [("orden", "update", 1)], "table string, op string, record_id long"
    )
    with pytest.raises(ValueError, match="dense_rank"):
        apply_cdc_events(batch, oltp, str(tmp_path / "star"), sk_mode="dense_rank")


def test_merge_star_partial_targets(spark, oltp, tmp_path):
    """merge_star with a table subset only touches those tables (the
    dispatcher's dim-only routing, ref :371-376)."""
    target = str(tmp_path / "star")
    star = build_star(oltp, sk_mode=SK)
    merge_star(spark, star, target, tables=("dim_categoria",))
    assert os.path.exists(star_table_path(target, "dim_categoria"))
    assert not os.path.exists(star_table_path(target, "hecho_ventas"))


@contextlib.contextmanager
def _job_group(sc, group: str):
    """Run the block's Spark jobs under ``group``, then clear it."""
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


def _failing(df, col: str):
    """``df`` with ``col`` replaced by an expression that raises when a
    write executes it; the schema is unchanged."""
    return df.withColumn(
        col, F.raise_error(F.lit("dimension write failed")).cast(dict(df.dtypes)[col])
    )


@pytest.mark.parametrize("writer", ["write_star", "merge_star"])
def test_failing_dimension_leaves_fact_as_it_was(spark, oltp, tmp_path, writer):
    """The dims are written concurrently and the fact only after all of
    them succeeded: a failing dimension write re-raises and the stored
    fact is neither rewritten nor merged (K1, dims before fact)."""
    target = str(tmp_path / "star")
    star = build_star(oltp, sk_mode=SK)
    write_star(star, target)
    fact_path = star_table_path(target, "hecho_ventas")
    files = sorted(os.listdir(fact_path))
    rows = _rows(_read_state(spark, target, "hecho_ventas"))

    broken = dataclasses.replace(
        star,
        dim_cliente=_failing(star.dim_cliente, "nombre"),
        hecho_ventas=star.hecho_ventas.withColumn("cantidad", F.col("cantidad") + 1),
    )
    with pytest.raises(Exception, match="dimension write failed"):
        if writer == "write_star":
            write_star(broken, target)
        else:
            merge_star(spark, broken, target)
    assert sorted(os.listdir(fact_path)) == files
    assert _rows(_read_state(spark, target, "hecho_ventas")) == rows


def test_merge_star_jobs_run_under_callers_job_group(spark, oltp, tmp_path):
    """Every job merge_star runs — the concurrent dimension writers'
    included — belongs to the caller's job group, so a streaming query's
    run id (or any group-scoped cancel) covers the whole merge."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    star = build_star(oltp, sk_mode=SK)
    tag = uuid.uuid4().hex

    def marker(name: str) -> int:
        with _job_group(sc, f"{name}-{tag}"):
            spark.range(1).collect()
        return max(tracker.getJobIdsForGroup(f"{name}-{tag}"))

    first = marker("before")
    with _job_group(sc, f"g-{tag}"):
        merge_star(spark, star, str(tmp_path / "star"))
    last = marker("after")
    grouped = set(tracker.getJobIdsForGroup(f"g-{tag}"))
    assert grouped, "merge_star ran no job under the caller's group"
    assert set(range(first + 1, last)) == grouped


# Jobs one apply_cdc_events call runs on a 7-order + 3-customer batch at
# the sf0.001 fixture: 60 in every run seen.  Counts can move by one or
# two between runs, so the pin sits two above the highest seen.
APPLY_CDC_MAX_JOBS = 62


def test_apply_cdc_job_count_pinned(spark, oltp, tmp_path):
    """A fact-wide + dim-only micro-batch (the benchmark's oltp_cdc op)
    stays within a fixed job budget."""
    target = str(tmp_path / "star")
    write_star(build_star(oltp, sk_mode=SK), target)
    orders = [r[0] for r in oltp["orden"].select("id_orden").orderBy("id_orden").limit(7).collect()]
    clients = [
        r[0] for r in oltp["clientes"].select("id_cliente").orderBy("id_cliente").limit(3).collect()
    ]
    batch = spark.createDataFrame(
        [("orden", "update", int(i)) for i in orders]
        + [("clientes", "update", int(i)) for i in clients],
        "table string, op string, record_id long",
    )
    sc = spark.sparkContext
    group = f"apply-cdc-{uuid.uuid4().hex}"
    with _job_group(sc, group):
        apply_cdc_events(batch, oltp, target)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= APPLY_CDC_MAX_JOBS, f"{jobs} jobs > pin {APPLY_CDC_MAX_JOBS}"
