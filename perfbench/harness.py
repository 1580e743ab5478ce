"""The benchmark harness: one Spark session, clean ops, op records.

An op runs in its own job group on a clean session: before each op the
SQL cache is cleared and every persisted RDD unpersisted, and the count
found is what the previous op left behind.
"""

from __future__ import annotations

import importlib
import os
import shutil
import subprocess
import time
from dataclasses import dataclass, field

from counters import MB, Probe, SparkWork
from spans import Tracer

PKG = "export_oltp_to_olap_spark"
DRIVER_MEMORY = "2g"
SETUP_REPS = 7

# Wrapped in traced ops: (module where the caller looks the name up,
# name, span).  ``queries_catalog`` and ``streaming.cdc`` import their
# callees by name, so those bindings are patched where they live.
PATCHES = (
    ("sources.parquet", "load_tables", "sources.load_tables"),
    ("queries_catalog", "load_tables", "sources.load_tables"),
    ("plans.star", "build_star", "star.build_star"),
    ("streaming.cdc", "build_star", "star.build_star"),
    ("plans.star", "write_star", "star.write_star"),
    ("streaming.cdc", "merge_star", "star.merge_star"),
    ("operators.merge", "merge_into_parquet", "merge.merge_into_parquet"),
    ("streaming.cdc", "apply_cdc_events", "cdc.apply_cdc_events"),
    ("plans.curation", "stage", "staging.stage"),
    ("plans.curation", "stage_fanout", "staging.stage_fanout"),
    ("operators.neardup", "stage", "staging.stage"),
    ("operators.neardup", "stage_fanout", "staging.stage_fanout"),
    ("operators.staging", "stage_fanout", "staging.stage_fanout"),
    ("plans.curation", "curation_standing_ledger", "plans.curation_standing_ledger"),
    ("plans.curation", "curated_upsert_ledger", "plans.curated_upsert_ledger"),
)


@dataclass
class OpRecord:
    kind: str  # "bulk" or "op"
    name: str
    seconds: float
    items: int = 1
    held_rdds: int = 0
    held_mb: float = 0.0
    work: SparkWork | None = None
    read_mb: float = 0.0
    write_mb: float = 0.0
    ok: bool = True
    group: str = ""
    meta: dict = field(default_factory=dict)


@dataclass
class Bench:
    """State of one benchmark run."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    root: str
    cores: int = field(default_factory=lambda: min(4, os.cpu_count() or 1))
    records: list[OpRecord] = field(default_factory=list)
    setup_times: list[float] = field(default_factory=list)
    spark: object = None
    probe: Probe | None = None
    tracer: Tracer | None = None
    deferred: list = field(default_factory=list)
    warm_up_s: float = 0.0

    def __post_init__(self):
        self.work = os.path.join(
            self.root, ".perfbench_work", f"{self.workload}-{self.seed}-{os.getpid()}"
        )
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        # Every JVM the run starts (the launcher and the driver) keeps its
        # temporary files in the run directory and writes no perf-data
        # file to the system temp directory.
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(self.work, 'tmp')}"
        )
        paths = [self.root, os.environ.get("PYTHONPATH", "")]
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- session ------------------------------------------------------------

    def start_session(self) -> None:
        from export_oltp_to_olap_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            extra_conf={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.local.dir": self.path("spark-local"),
                "spark.sql.warehouse.dir": self.path("warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.probe = Probe(self.spark)
        if self.trace:
            self.tracer = Tracer(self.probe)

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM behind it, and wait for the JVM
        and every process it started (PySpark's Python workers)."""
        from pyspark import SparkContext

        self.stop_session()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        children = _descendants(proc.pid) if proc is not None else []
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        for pid in children:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)

    def setup(self, generate, warm_up) -> None:
        """Set up SETUP_REPS times; each rep generates the inputs and
        (re)starts the session.  The JVM launch falls in the first rep
        only.  One untimed warm-up op follows."""
        for _ in range(SETUP_REPS):
            self.stop_session()
            t0 = time.perf_counter()
            generate()
            self.start_session()
            self.setup_times.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        warm_up()
        self.warm_up_s = time.perf_counter() - t0
        self.probe.release_all()

    # -- ops ----------------------------------------------------------------

    def install(self) -> None:
        # Import every patched module first: a module imported while an
        # earlier patch is in place would bind the wrapper by name and
        # keep it after the patches are removed.
        for module, _, _ in PATCHES:
            importlib.import_module(f"{PKG}.{module}")
        for module, attr, name in PATCHES:
            after = _AFTER.get(name)
            hook = (lambda s, a, k, r, f=after: f(self, s, a, k, r)) if after else None
            self.tracer.patch(f"{PKG}.{module}", attr, name, after=hook)

    def timed(self, kind: str, name: str, fn, items: int = 1):
        """Run ``fn`` as one op on a clean session; returns (result, record).
        In a traced run every op runs with the wrappers installed."""
        self.probe.release_all()
        group = f"perfbench-{len(self.records)}"
        self.probe.set_group(group)
        traced = self.tracer is not None
        if traced:
            self.tracer.op = group
            self.install()
        io0 = self.probe.io_bytes() if self.tracer else (0, 0)
        t0 = time.perf_counter()
        try:
            result = fn()
        finally:
            dt = time.perf_counter() - t0
            if traced:
                self.tracer.unpatch()
        rec = OpRecord(kind=kind, name=name, seconds=dt, items=items, group=group)
        self.observe(rec, io0)
        self.records.append(rec)
        return result, rec

    def observe(self, rec: OpRecord, io0: tuple[int, int]) -> None:
        """Fill in what the op left behind and, in a traced run, its
        Spark and JVM counters."""
        held = self.probe.held()
        rec.held_rdds, rec.held_mb = held.rdds, held.storage_mb
        if self.tracer is not None:
            rec.work = self.probe.work(self.probe.group_jobs(rec.group))
            r1, w1 = self.probe.io_bytes()
            rec.read_mb, rec.write_mb = (r1 - io0[0]) / MB, (w1 - io0[1]) / MB
        for fn in self.deferred:
            fn()
        self.deferred.clear()

    def ops(self, kind: str = "op") -> list[OpRecord]:
        return [r for r in self.records if r.kind == kind]


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, from ``/proc``."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # The command name may hold spaces; fields after it are fixed.
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def _after_load(bench: Bench, span, args, kwargs, result) -> None:
    span.meta["tables"] = len(result)


def _after_merge(bench: Bench, span, args, kwargs, result) -> None:
    path = kwargs.get("path", args[2] if len(args) > 2 else None)

    def measure():
        span.meta["rows"] = bench.spark.read.parquet(path).count()
        span.meta["bytes"] = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
        )

    bench.deferred.append(measure)


def _after_merge_star(bench: Bench, span, args, kwargs, result) -> None:
    tables = kwargs.get("tables", args[3] if len(args) > 3 else None)
    span.meta["fallback"] = tables is None


_AFTER = {
    "sources.load_tables": _after_load,
    "merge.merge_into_parquet": _after_merge,
    "star.merge_star": _after_merge_star,
}
