"""Unit tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

import pytest

import check
import gen
import layers
import run
import workloads
from harness import Bench, OpRecord
from metrics import latency_summary, percentile, tail_percentile
from spans import Span, self_jobs, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- percentile rule ---------------------------------------------------------


@pytest.mark.parametrize(
    "n, want", [(1, None), (99, None), (100, 90.0), (999, 90.0), (1000, 99.0), (10000, 99.9)]
)
def test_tail_percentile_needs_ten_samples_beyond(n, want):
    assert tail_percentile(list(range(n))) == want


def test_latency_summary_reports_tail_only_with_enough_samples():
    assert set(latency_summary([1.0] * 99)) == {"n", "p50"}
    summary = latency_summary([float(i) for i in range(1, 101)])
    assert summary["p90"] == 90.0
    assert summary["p50"] == 50.5


def test_percentile_nearest_rank():
    assert percentile([5.0, 1.0, 3.0, 2.0, 4.0], 50) == 3.0
    assert percentile([1.0, 2.0], 100) == 2.0


# -- self time ---------------------------------------------------------------


def _span(name, start, end, parent=None, jobs=0):
    return Span(name=name, start=start, end=end, parent=parent, op="op", jobs=jobs)


def test_self_time_subtracts_children_counting_overlap_once():
    spans = [
        _span("root", 0.0, 10.0, jobs=9),
        _span("a", 1.0, 3.0, parent=0, jobs=4),
        _span("b", 2.0, 5.0, parent=0, jobs=2),  # overlaps a
        _span("c", 6.0, 7.0, parent=0, jobs=1),
        _span("a.child", 1.5, 2.5, parent=1, jobs=3),
    ]
    assert self_times(spans) == pytest.approx([10.0 - 4.0 - 1.0, 1.0, 3.0, 1.0, 1.0])
    assert self_jobs(spans) == [2, 1, 2, 1, 3]


def test_self_time_ignores_grandchildren_and_leaves():
    spans = [
        _span("root", 0.0, 4.0),
        _span("mid", 1.0, 3.0, parent=0),
        _span("leaf", 1.0, 3.0, parent=1),
    ]
    assert self_times(spans) == pytest.approx([2.0, 0.0, 2.0])


# -- correctness gate --------------------------------------------------------


@pytest.fixture(scope="module")
def tiny_tpch(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("tpch"))
    gen.write_tables(gen.tpch_tables(7, 0.05), out)
    return out


def test_injected_wrong_answer_counts_as_failure(tiny_tpch, tmp_path):
    oracle = check.Oracle(tiny_tpch)
    try:
        name = "tpch_q6_forecast_revenue"
        res = oracle.con.execute(oracle.sql[name])
        cols = [d[0] for d in res.description]
        rows = [list(r) for r in res.fetchall()]
        wrong = [list(r) for r in rows]
        i = next(i for i, v in enumerate(wrong[0]) if isinstance(v, float))
        wrong[0][i] += 1.0
        good, bad = OpRecord("op", name, 1.0), OpRecord("op", name, 1.0)
        notes = check.grade(oracle, [(good, cols, rows), (bad, cols, wrong)])
    finally:
        oracle.close()
    assert good.ok and not bad.ok
    assert len(notes) == 1 and "differ" in notes[0]

    bench = _fake_bench(tmp_path, seed=1, records=[good, bad])
    line = run.result_line(bench, sum(not r.ok for r in bench.ops()))
    assert line["correct"] is False
    assert (line["attempted"], line["failed"]) == (2, 1)


def test_canonical_ignores_row_and_column_order():
    a = check.canonical(["x", "y"], [(1, 2.5), (3, 4.5)])
    b = check.canonical(["y", "x"], [(4.5, 3), (2.5, 1)])
    assert a == b
    assert a != check.canonical(["x", "y"], [(1, 2.5), (3, 4.0)])


# -- seeds change inputs, not metric names -----------------------------------


def test_seed_changes_inputs_deterministically():
    a, b, a2 = gen.tpch_tables(1, 0.05), gen.tpch_tables(2, 0.05), gen.tpch_tables(1, 0.05)
    assert all(a[t].equals(a2[t]) for t in gen.TPCH_TABLES)
    assert not a["orders"].equals(b["orders"])
    d1, d2 = gen.documents(1, 80), gen.documents(2, 80)
    assert d1.equals(gen.documents(1, 80)) and not d1.equals(d2)


def _fake_bench(tmp_path, seed, records):
    bench = Bench("olap_queries", seed, 1.0, False, str(tmp_path))
    bench.setup_times = [0.5, 0.4, 0.6]
    bench.records = [OpRecord("bulk", "catalog_scan", 0.3)] + records
    return bench


def test_metric_names_do_not_depend_on_the_seed(tmp_path):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    names = []
    for seed in (1, 2):
        records = [OpRecord("op", f"q{i}", 0.1 * (i + seed)) for i in range(3)]
        line = run.result_line(_fake_bench(tmp_path / str(seed), seed, records), 0)
        names.append({k: v["unit"] for k, v in line["metrics"].items()})
    assert names[0] == names[1] == declared
    assert layers.UNITS == {m["name"]: m["unit"] for m in spec["per_layer"]}


# -- CDC batches -------------------------------------------------------------


@pytest.mark.parametrize("cycle", [0, 1, 2, 3])
def test_change_batch_announces_every_changed_record(cycle):
    before = gen.tpch_tables(3, workloads.CDC_SCALE)
    batch = gen.change_batch(before, 3, cycle)
    fact, dim, keys = gen.batch_tables(cycle)
    events = {(e["table"], e["record_id"]) for e in batch.events}
    assert len(events) == len(batch.events) == keys

    def changed(table, key):
        old = {r[key]: r for r in before[table].to_pylist()}
        return {k for k, r in ((r[key], r) for r in batch.after[table].to_pylist()) if old.get(k) != r}

    want = set()
    if dim == "clientes":
        want |= {("clientes", k) for k in changed("customer", "c_custkey")}
    else:
        want |= {("productos", k) for k in changed("part", "p_partkey")}
    if fact == "orden_producto":
        lines = batch.after["lineitem"].to_pylist()
        old = before["lineitem"].to_pylist()
        want |= {
            (fact, r["l_orderkey"] * 10 + r["l_linenumber"])
            for r, o in zip(lines, old)
            if r != o
        }
    else:
        want |= {(fact, k) for k in changed("orders", "o_orderkey")}
    assert events == want
    # Key columns the star's grain reads never change.
    for table, cols in (
        ("orders", ("o_orderkey", "o_custkey", "o_orderdate", "o_orderstatus", "o_orderpriority")),
        ("part", ("p_partkey", "p_retailprice")),
    ):
        n = before[table].num_rows
        for col in cols:
            assert batch.after[table].column(col).slice(0, n).equals(before[table].column(col))


def test_corpus_batches_plant_challenge_copies():
    docs = gen.documents(5, 200)
    batches = gen.corpus_batches(docs, 5, 3, 20)
    for b in batches:
        ids = [r["doc_id"] for r in b.rows]
        assert len(ids) == len(set(ids))
        assert b.verbatim_copies > 0 and b.near_copies > 0
    acc = gen.apply_corpus_batches(docs, batches)
    deleted = sum(b.deletes for b in batches)
    inserted = sum(b.inserts for b in batches)
    assert acc.num_rows == docs.num_rows - deleted + inserted


# -- wrappers ----------------------------------------------------------------


def test_install_and_unpatch_leave_no_wrapper_behind(tmp_path):
    """In a fresh interpreter (nothing imported yet), installing the
    wrappers must not let a module imported during the install bind a
    wrapper by name, and removing them must restore every original."""
    import subprocess
    import sys

    code = f"""
import sys
sys.path[:0] = [{os.path.join(ROOT, "perfbench")!r}, {ROOT!r}]
import importlib
from harness import PATCHES, PKG, Bench
from spans import Tracer
b = Bench("oltp_cdc", 1, 1.0, False, {str(tmp_path)!r})
b.tracer = Tracer()
b.install()
b.tracer.unpatch()
star = importlib.import_module(PKG + ".plans.star")
cdc = importlib.import_module(PKG + ".streaming.cdc")
catalog = importlib.import_module(PKG + ".queries_catalog")
parquet = importlib.import_module(PKG + ".sources.parquet")
assert cdc.build_star is star.build_star, "cdc.build_star kept a wrapper"
assert catalog.load_tables is parquet.load_tables, "catalog.load_tables kept a wrapper"
for module, attr, _ in PATCHES:
    fn = getattr(importlib.import_module(PKG + "." + module), attr)
    assert not hasattr(fn, "__wrapped__"), (module, attr)
"""
    proc = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True)
    assert proc.returncode == 0, proc.stderr[-2000:]
