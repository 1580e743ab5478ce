"""Benchmark entry point.

    python3 perfbench/run.py --workload oltp_cdc --seed 1 --seconds 20 --trace 0

Run from the repository root.  Generated inputs, Spark's local directories
and the warehouse live under ``.perfbench_work/`` there; a traced run
also leaves its spans in ``.perfbench_work/traces/``.  The last line of
stdout is the result JSON: end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
from harness import PKG, Bench  # noqa: E402
from metrics import latency_summary, median  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "bulk_s": "s",
    "op_p50_s": "s",
    "items_per_s": "1/s",
}

# How each end-to-end metric reads on each workload, for the summary.
ALIASES = {
    "olap_queries": {"bulk_s": "catalog_scan_s", "items_per_s": "queries_per_s"},
    "oltp_cdc": {"bulk_s": "full_sync_s", "items_per_s": "changes_per_s"},
    "corpus_maintenance": {"bulk_s": "corpus_init_s", "items_per_s": "changes_per_s"},
}


def end_to_end(bench: Bench) -> dict:
    ops = bench.ops()
    return {
        "setup_s": median(bench.setup_times),
        "bulk_s": median(r.seconds for r in bench.ops("bulk")),
        "op_p50_s": median(r.seconds for r in ops),
        "items_per_s": sum(r.items for r in ops) / sum(r.seconds for r in ops),
    }


def result_line(bench: Bench, failed: int) -> dict:
    ops = bench.ops()
    if bench.trace:
        values = layers.per_layer(bench)
        metrics = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in values.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in end_to_end(bench).items()}
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }


def summary(bench: Bench, workload, failed: int) -> list[str]:
    ops = bench.ops()
    lat = latency_summary([r.seconds for r in ops])
    lines = [
        f"workload {bench.workload} seed {bench.seed} local[{bench.cores}] "
        f"trace {int(bench.trace)}: {len(ops)} ops, error_rate {failed / len(ops):.3f}",
        "op latency (s): " + ", ".join(f"{k}={v:.4g}" for k, v in lat.items())
        + "; in order: " + " ".join(f"{r.seconds:.2f}" for r in ops),
        f"held_rdds {sum(r.held_rdds for r in ops)} summed over ops",
    ]
    if not bench.trace:
        alias = ALIASES[bench.workload]
        lines.append(
            ", ".join(
                f"{alias.get(k, k)}={v:.4g}" for k, v in end_to_end(bench).items()
            )
        )
    lines += workload.notes
    return lines


def write_trace(bench: Bench) -> None:
    out = os.path.join(ROOT, ".perfbench_work", "traces")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{bench.workload}-seed{bench.seed}.json")
    with open(path, "w") as fh:
        json.dump(bench.tracer.to_json(), fh)


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        __import__(PKG)
        import workloads
    except ImportError as exc:
        print(f"perfbench: cannot import the package under test: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), ROOT)
    workload = workloads.WORKLOADS[args.workload](bench)
    try:
        t0 = time.perf_counter()
        bench.setup(workload.generate, workload.warm_up)
        t1 = time.perf_counter()
        workload.run()
        phases = {"setup": t1 - t0, "measure": time.perf_counter() - t1}
        failed = sum(not r.ok for r in bench.ops())
        if bench.trace:
            write_trace(bench)
        line = result_line(bench, failed)
        for text in summary(bench, workload, failed):
            print(text)
        print(
            "wall (s): "
            + ", ".join(f"{k} {v:.1f}" for k, v in phases.items())
            + "; setup reps "
            + ", ".join(f"{v:.2f}" for v in bench.setup_times)
            + f"; warm-up op {bench.warm_up_s:.2f}"
        )
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        bench.shutdown()
        shutil.rmtree(bench.work, ignore_errors=True)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
