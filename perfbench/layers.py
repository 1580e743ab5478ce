"""Per-layer metrics of a traced run.

Layer → end-to-end metric it should move → workload:

* ``sources.*``, ``plans.*``       → ``op_p50_s``                → oltp_cdc,
                                    corpus_maintenance (and olap_queries)
* ``star.*``                      → ``bulk_s`` (full sync)      → oltp_cdc
* ``merge.*``, ``cdc.*``          → ``op_p50_s``, ``items_per_s`` → oltp_cdc
* ``staging.*``, ``held_rdds``    → ``op_p50_s``                → corpus_maintenance
                                    (zero on oltp_cdc and olap_queries)
* ``spark.*``, ``jvm.*``          → every metric                → every workload

Per-op values are means over the run's regular ops; a layer the
workload never calls reads 0.  ``trace.overhead_*`` is the time the
span bookkeeping itself took inside timed ops, per op and as a share
of timed time: what a traced op costs more than an untraced one.
"""

from __future__ import annotations

from metrics import mean, median
from spans import self_jobs, self_times

UNITS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.cpu_s": "s",
    "spark.cpu_util": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "jvm.read_mb": "MB",
    "jvm.write_mb": "MB",
    "jvm.peak_rss_mb": "MB",
    "held_rdds": "count",
    "sources.load_s": "s",
    "sources.tables_opened": "count",
    "sources.jobs": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.exec_s": "s",
    "star.build_s": "s",
    "star.write_s": "s",
    "merge.calls": "count",
    "merge.s": "s",
    "merge.tables_rewritten": "count",
    "merge.rows_rewritten": "count",
    "merge.bytes_written": "bytes",
    "merge.write_amplification": "ratio",
    "cdc.trigger_s": "s",
    "cdc.add_batch_s": "s",
    "cdc.stream_overhead_s": "s",
    "cdc.keys_per_batch": "count",
    "cdc.fallback_ratio": "ratio",
    "staging.calls": "count",
    "staging.jobs": "count",
    "staging.held_rdds": "count",
    "staging.storage_mb": "MB",
    "trace.overhead_s": "s",
    "trace.overhead_pct": "%",
}


# Spans that build a plan: a face call, a star build, the curation
# ledger constructors.  Their self time (children such as ``load_tables`` or
# eager staging excluded) is plan-build time.
PLAN_BUILDS = frozenset(
    {
        "plans.build",
        "star.build_star",
        "plans.curation_standing_ledger",
        "plans.curated_upsert_ledger",
    }
)


def _per_op(spans, ops, value) -> float:
    """Mean over ``ops`` of ``value(spans of that op)``."""
    if not ops:
        return 0.0
    by_op: dict[str, list] = {r.group: [] for r in ops}
    for s in spans:
        if s[0].op in by_op:
            by_op[s[0].op].append(s)
    return mean(value(v) for v in by_op.values())


def per_layer(bench) -> dict[str, float]:
    ops = bench.ops()
    tracer = bench.tracer
    st = self_times(tracer.spans)
    sj = self_jobs(tracer.spans)
    # (span, self seconds, self jobs)
    spans = list(zip(tracer.spans, st, sj))

    def named(group, prefix):
        return [s for s in group if s[0].name.startswith(prefix)]

    def op_mean(prefix, value):
        return _per_op(spans, ops, lambda group: value(named(group, prefix)))

    out: dict[str, float] = {}
    works = [r.work for r in ops]
    out["spark.jobs"] = mean(w.jobs for w in works)
    out["spark.stages"] = mean(w.stages for w in works)
    out["spark.tasks"] = mean(w.tasks for w in works)
    out["spark.cpu_s"] = mean(w.cpu_s for w in works)
    out["spark.cpu_util"] = sum(w.cpu_s for w in works) / (
        bench.cores * sum(r.seconds for r in ops)
    )
    out["spark.shuffle_write_mb"] = mean(w.shuffle_write_mb for w in works)
    out["spark.spill_mb"] = mean(w.spill_mb for w in works)
    out["jvm.read_mb"] = mean(r.read_mb for r in ops)
    out["jvm.write_mb"] = mean(r.write_mb for r in ops)
    out["jvm.peak_rss_mb"] = bench.probe.peak_rss_mb()
    out["held_rdds"] = float(sum(r.held_rdds for r in ops))

    out["sources.load_s"] = op_mean("sources.", lambda g: sum(s[1] for s in g))
    out["sources.tables_opened"] = op_mean(
        "sources.", lambda g: sum(s[0].meta.get("tables", 0) for s in g)
    )
    out["sources.jobs"] = op_mean("sources.", lambda g: sum(s[2] for s in g))
    def builds(group):
        return [s for s in group if s[0].name in PLAN_BUILDS]

    out["plans.build_s"] = _per_op(spans, ops, lambda g: sum(s[1] for s in builds(g)))
    out["plans.build_jobs"] = _per_op(spans, ops, lambda g: sum(s[0].jobs for s in builds(g)))
    # The rest of an op once its source loads and plan builds are taken out.
    out["plans.exec_s"] = (
        mean(r.seconds for r in ops) - out["plans.build_s"] - out["sources.load_s"]
    )

    sync = [s for s in spans if s[0].op in {r.group for r in bench.ops("bulk")}]
    out["star.build_s"] = sum(s[0].duration for s in named(sync, "star.build_star"))
    out["star.write_s"] = sum(s[0].duration for s in named(sync, "star.write_star"))

    merges = named(spans, "merge.")
    op_groups = {r.group for r in ops}
    merges = [s for s in merges if s[0].op in op_groups]
    out["merge.calls"] = op_mean("star.merge_star", len)
    out["merge.s"] = op_mean("merge.", lambda g: sum(s[0].duration for s in g))
    out["merge.tables_rewritten"] = op_mean("merge.", len)
    out["merge.rows_rewritten"] = op_mean(
        "merge.", lambda g: sum(s[0].meta.get("rows", 0) for s in g)
    )
    out["merge.bytes_written"] = op_mean(
        "merge.", lambda g: sum(s[0].meta.get("bytes", 0) for s in g)
    )
    changes = sum(r.items for r in ops) if merges else 0
    out["merge.write_amplification"] = (
        sum(s[0].meta.get("rows", 0) for s in merges) / changes if changes else 0.0
    )

    batches = [r for r in ops if "trigger_s" in r.meta]
    if batches:
        out["cdc.trigger_s"] = median(r.meta["trigger_s"] for r in batches)
        out["cdc.add_batch_s"] = median(r.meta["add_batch_s"] for r in batches)
        out["cdc.stream_overhead_s"] = median(
            r.seconds - r.meta["add_batch_s"] for r in batches
        )
        out["cdc.keys_per_batch"] = mean(r.items for r in batches)
        fallbacks = [s for s in named(spans, "star.merge_star") if s[0].meta.get("fallback")]
        out["cdc.fallback_ratio"] = len(fallbacks) / len(batches)
    else:
        for k in ("trigger_s", "add_batch_s", "stream_overhead_s", "keys_per_batch", "fallback_ratio"):
            out[f"cdc.{k}"] = 0.0

    out["staging.calls"] = op_mean("staging.", len)
    out["staging.jobs"] = op_mean("staging.", lambda g: sum(s[0].jobs for s in g))
    staged = any(s[0].name.startswith("staging.") for s in spans)
    out["staging.held_rdds"] = mean(r.held_rdds for r in ops) if staged else 0.0
    out["staging.storage_mb"] = mean(r.held_mb for r in ops) if staged else 0.0

    timed = bench.records
    out["trace.overhead_s"] = tracer.overhead_s / len(timed)
    out["trace.overhead_pct"] = 100.0 * tracer.overhead_s / sum(r.seconds for r in timed)
    return {k: float(out[k]) for k in UNITS}
