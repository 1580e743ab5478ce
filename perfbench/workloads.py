"""The three workloads.  Each is a closed loop with one client: the next
op starts only after the previous one returned.

* ``olap_queries``: one analyst collecting the 22 TPC-H faces and three
  flagship faces in a seed-shuffled order, each on a clean cache.
* ``oltp_cdc``: the reference's ``once`` + ``worker`` path: a full star
  sync, then one worker invocation per CDC micro-batch
  (``start_cdc_stream``).
* ``corpus_maintenance``: the curation ledger loop: the standing ledger
  is built and persisted, then chained batches of deletes, re-texts and
  copies are applied with ``curated_upsert_ledger``.

Each op's answer is checked outside its timer.
"""

from __future__ import annotations

import importlib
import os

import check
import gen
from harness import PKG, Bench

TPCH_SCALE = 1.0  # the size of the sf0.01 fixture, where the oracles are pinned
CDC_SCALE = 0.2
N_DOCS = 600
CORPUS_BATCH_ROWS = 20
SK_MODE = "xxhash64"  # CDC merges need slice-stable surrogate keys


def _mod(name: str):
    """Package modules are looked up at call time, so that traced ops go
    through the wrappers the harness installs."""
    return importlib.import_module(f"{PKG}.{name}")


class Workload:
    name = ""
    # Nominal seconds per op: a run makes ``--seconds / nominal_op_s``
    # ops (at least one).  A fixed count, rather than "until the clock
    # runs out", keeps every run at the same ops in the same JIT state,
    # so a slower machine gives slower ops, not a different op mix.
    nominal_op_s = 1.0

    def __init__(self, bench: Bench):
        self.b = bench
        self.notes: list[str] = []

    def n_ops(self) -> int:
        return max(1, int(self.b.seconds // self.nominal_op_s))

    def generate(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def run(self) -> None:
        raise NotImplementedError


# ---------------------------------------------------------------------------


WARM_UP_FACE = "tpch_q3_shipping_priority"


class OlapQueries(Workload):
    name = "olap_queries"
    nominal_op_s = 2.0
    catalog_scans = 3

    def faces(self) -> list[str]:
        names = list(_mod("registry").queries())
        return [n for n in names if n.startswith("tpch_")] + [
            "pricing_summary",
            "flagship_revenue",
            "top_customers_per_region",
        ]

    def generate(self) -> None:
        self.dir = self.b.path("tpch")
        gen.write_tables(gen.tpch_tables(self.b.seed, TPCH_SCALE), self.dir)

    def warm_up(self) -> None:
        _mod("registry").queries()[WARM_UP_FACE](self.b.spark, self.dir).collect()

    def catalog_scan(self) -> None:
        """Read every source table in full once (the bulk read the faces
        share), discarding the rows."""
        tables = _mod("sources.parquet").load_tables(self.b.spark, self.dir, gen.TPCH_TABLES)
        for df in tables.values():
            df.write.format("noop").mode("overwrite").save()

    def query(self, name: str):
        fn = _mod("registry").queries()[name]
        tracer = self.b.tracer
        span = tracer.begin("plans.build") if tracer else None
        df = fn(self.b.spark, self.dir)
        if tracer:
            tracer.end(span)
        return df.columns, df.collect()

    def run(self) -> None:
        for _ in range(self.catalog_scans):
            self.b.timed("bulk", "catalog_scan", self.catalog_scan)
        rng = gen.rng_for(self.b.seed, "olap-order")
        faces = self.faces()
        order: list[str] = []
        results = []
        for _ in range(self.n_ops()):
            if not order:
                order = [faces[i] for i in rng.permutation(len(faces))]
            name = order.pop()
            (cols, rows), rec = self.b.timed("op", name, lambda: self.query(name))
            results.append((rec, cols, rows))
        oracle = check.Oracle(self.dir)
        try:
            self.notes += check.grade(oracle, results)
        finally:
            oracle.close()


# ---------------------------------------------------------------------------


class OltpCdc(Workload):
    name = "oltp_cdc"
    nominal_op_s = 20.0

    def generate(self) -> None:
        self.before = gen.tpch_tables(self.b.seed, CDC_SCALE)
        gen.write_tables(self.before, self.b.path("before"))

    def oltp(self, tag: str):
        tables = _mod("sources.parquet").load_tables(
            self.b.spark, self.b.path(tag), gen.TPCH_TABLES
        )
        return _mod("plans.fixtures_adapter").oltp_tables_from_fixtures(tables)

    def warm_up(self) -> None:
        """A full sync into a separate star."""
        self.full_sync(self.b.path("warm", "star"))

    def full_sync(self, target: str) -> None:
        star = _mod("plans.star")
        star.write_star(star.build_star(self.oltp("before"), sk_mode=SK_MODE), target)

    def run(self) -> None:
        target = self.b.path("star")
        self.b.timed("bulk", "full_sync", lambda: self.full_sync(target))
        state = self.before
        for cycle in range(self.n_ops()):
            batch = gen.change_batch(state, self.b.seed, cycle)
            tag = f"after{cycle}"
            gen.write_tables(batch.after, self.b.path(tag))
            gen.write_events(batch.events, self.b.path("feed", f"batch_{cycle:04d}.json"))
            self.drain(tag, target, len(batch.events))
            self.check_star(tag, target)
            state = batch.after

    def drain(self, tag: str, target: str, n_events: int) -> None:
        """One worker invocation on the new feed file: open the batch's
        OLTP snapshot, start the CDC stream, which commits the file as one
        micro-batch and stops.  The op is the whole invocation; the
        stream's own ``triggerExecution`` and ``addBatch`` times are kept
        for the per-layer split."""
        cdc = _mod("streaming.cdc")

        def go():
            q = cdc.start_cdc_stream(
                self.b.spark,
                self.b.path("feed"),
                self.oltp(tag),
                target,
                self.b.path("checkpoint"),
                available_now=True,
                max_files_per_trigger=1,
            )
            q.awaitTermination()
            return q

        q, rec = self.b.timed("op", tag, go, items=n_events)
        done = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if len(done) != 1 or done[0]["numInputRows"] != n_events:
            raise RuntimeError(f"expected one micro-batch of {n_events} events, got {done}")
        ms = done[0]["durationMs"]
        rec.meta = {
            "trigger_s": ms["triggerExecution"] / 1000.0,
            "add_batch_s": ms.get("addBatch", 0) / 1000.0,
        }
        if self.b.tracer is not None:
            # The micro-batch's jobs run under the query's run id.
            rec.work = self.b.probe.work(
                self.b.probe.group_jobs(rec.group) | self.b.probe.group_jobs(str(q.runId))
            )

    def check_star(self, tag: str, target: str) -> None:
        star = _mod("plans.star")
        fresh = star.build_star(self.oltp(tag), sk_mode=SK_MODE)
        problem = check.star_matches(self.b.spark, target, fresh, star)
        if problem:
            self.b.records[-1].ok = False
            self.notes.append(f"{tag}: {problem}")


# ---------------------------------------------------------------------------


LEDGER_TABLES = ("keepers", "losers", "pairs", "sets")


class CorpusMaintenance(Workload):
    name = "corpus_maintenance"
    nominal_op_s = 15.0
    # The init is short and varies run to run; bulk_s is the median of three.
    ledger_inits = 3

    def generate(self) -> None:
        self.docs = gen.documents(self.b.seed, N_DOCS)
        gen.write_tables({"documents": self.docs}, self.b.path("corpus"))
        self.batches = gen.corpus_batches(self.docs, self.b.seed, self.n_ops(), CORPUS_BATCH_ROWS)

    def read_docs(self, path: str):
        return self.b.spark.read.parquet(path).select("doc_id", "text")

    def warm_up(self) -> None:
        """A ledger init into a separate ledger."""
        self.init(self.b.path("warm", "ledger"), self.b.path("corpus", "documents.parquet"))

    def write_ledger(self, tables: dict, out: str) -> None:
        for name, df in tables.items():
            df.write.mode("overwrite").parquet(os.path.join(out, f"{name}.parquet"))

    def init(self, out: str, corpus: str) -> None:
        keepers, losers, pairs, sets = _mod("plans.curation").curation_standing_ledger(
            self.read_docs(corpus), return_sets=True
        )
        self.write_ledger(dict(zip(LEDGER_TABLES, (keepers, losers, pairs, sets))), out)

    def apply(self, ledger: str, batch_path: str, out: str) -> None:
        """One ``curate-ledger-apply``: read the ledger and the batch, run
        ``curated_upsert_ledger``, persist the next ledger and the
        curated rows."""
        from pyspark.sql import functions as F

        spark = self.b.spark
        tables = {
            n: spark.read.parquet(os.path.join(ledger, f"{n}.parquet")) for n in LEDGER_TABLES
        }
        batch = spark.read.schema("doc_id long, op string, text string").json(batch_path)
        deleted = batch.where(F.col("op") == "delete").select("doc_id")
        changed = batch.where(F.col("op") == "upsert").select("doc_id", "text")
        keepers, losers, pairs, sets, curated = _mod("plans.curation").curated_upsert_ledger(
            deleted,
            changed,
            tables["keepers"],
            tables["losers"],
            tables["pairs"],
            standing_sets=tables["sets"],
        )
        self.write_ledger(
            {
                "keepers": keepers,
                "losers": losers,
                "pairs": pairs,
                "sets": sets,
                "curated": curated,
            },
            out,
        )

    def run(self) -> None:
        corpus = self.b.path("corpus", "documents.parquet")
        for i in range(self.ledger_inits):
            ledger = self.b.path(f"init_{i}")
            self.b.timed("bulk", "ledger_init", lambda: self.init(ledger, corpus))
        done = self.n_ops()
        for i, batch in enumerate(self.batches[:done]):
            path = self.b.path(f"batch_{i:04d}.json")
            gen.write_corpus_batch(batch, path)
            nxt = self.b.path(f"ledger_{i + 1:04d}")
            self.b.timed(
                "op", f"batch{i}", lambda: self.apply(ledger, path, nxt), items=len(batch.rows)
            )
            self.check_ledger(nxt, i + 1)
            ledger = nxt
        copies = sum(b.verbatim_copies for b in self.batches[:done])
        self.notes.append(f"verbatim copies of larger ids applied: {copies}")

    def check_ledger(self, ledger: str, done: int) -> None:
        """The chained ledger's curated rows must equal a rebuild over the
        accumulated corpus."""
        acc = gen.apply_corpus_batches(self.docs, self.batches[:done])
        gen.write_tables({"accumulated": acc}, self.b.path("rebuild"))
        docs = self.b.spark.read.parquet(self.b.path("rebuild", "accumulated.parquet"))
        rebuilt = _mod("plans.curation").curated_corpus(docs).select("doc_id", "quality", "split")
        got = self.b.spark.read.parquet(os.path.join(ledger, "curated.parquet"))
        problem = check.frames_equal(got, rebuilt)
        if problem:
            self.b.records[-1].ok = False
            self.notes.append(f"batch {done - 1}: {problem}")


WORKLOADS = {w.name: w for w in (OlapQueries, OltpCdc, CorpusMaintenance)}

