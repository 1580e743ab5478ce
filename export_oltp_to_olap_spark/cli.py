"""Command-line entry points — parity with the reference's process surface.

Reference entry points (SURVEY.md §3):

* ``python sync_oltp_to_olap.py``                     → ``sync`` (full)
* ``python sync_oltp_to_olap.py --table T --op O --id N`` → ``sync --table …``
* ``python main.py worker`` (LISTEN/NOTIFY loop)       → ``worker``
* ``python main.py once`` (one-shot full sync)         → ``once``
* ``python main.py web`` (health/status/trigger HTTP)  → ``web``

The ``--op`` flag is accepted and ignored exactly like the reference
(deletes are not propagated — ref sync_oltp_to_olap.py:416-423, SURVEY.md
§3.2).  The ``web`` subcommand serves the reference's ops surface
(``/health``, ``/worker-status`` staleness classification, token-gated
``/sync`` — ref main.py:42-133) via ``ops_http``; the worker writes the
``worker_status.json`` heartbeat artifact (ref worker_sync.py:62-79)
from a ``StreamingQueryListener`` + wall-clock ticker when
``--status-file`` is given.

Sources: ``--source-dir`` points at fixture-shaped parquet (the harness
path).  A production deployment swaps ``load_oltp`` for JDBC reads via
``sources.jdbc.read_jdbc_table`` — same downstream plans.

Usage examples::

    python -m export_oltp_to_olap_spark.cli sync \
        --source-dir /root/testdata/sf0.001 --target-dir /tmp/olap
    python -m export_oltp_to_olap_spark.cli sync \
        --source-dir /root/testdata/sf0.001 --target-dir /tmp/olap \
        --table orden --op update --id 7
    python -m export_oltp_to_olap_spark.cli worker \
        --feed-dir /tmp/feed --target-dir /tmp/olap --checkpoint /tmp/ckpt
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def load_oltp(spark: SparkSession, source_dir: str):
    from export_oltp_to_olap_spark.plans.fixtures_adapter import oltp_tables_from_fixtures
    from export_oltp_to_olap_spark.sources.parquet import load_tables

    tables = load_tables(
        spark,
        source_dir,
        ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"),
    )
    return oltp_tables_from_fixtures(tables)


def cmd_sync(args: argparse.Namespace, spark: SparkSession) -> int:
    """Full or per-record incremental sync (ref §3.1 / §3.2)."""
    from export_oltp_to_olap_spark.plans.star import (
        build_star,
        build_star_incremental,
        merge_star,
        write_star,
    )

    oltp = load_oltp(spark, args.source_dir)
    if args.table is None:
        star = build_star(oltp, sk_mode=args.sk_mode)
        if args.full_refresh:
            write_star(star, args.target_dir)
        else:
            merge_star(spark, star, args.target_dir)
        print(f"sync: full rebuild merged into {args.target_dir}")
    else:
        if args.sk_mode == "dense_rank":
            print(
                "sync: incremental merge requires stable surrogate keys; "
                "using --sk-mode xxhash64 (see SCALE.md)",
                file=sys.stderr,
            )
            args.sk_mode = "xxhash64"
        star = build_star_incremental(
            oltp, args.table, args.op, args.id, sk_mode=args.sk_mode
        )
        merge_star(spark, star, args.target_dir)
        print(f"sync: incremental {args.table} id={args.id} merged into {args.target_dir}")
    return 0


def cmd_worker(args: argparse.Namespace, spark: SparkSession) -> int:
    """CDC worker: event feed → streaming merge (ref §3.3), with the
    reference's heartbeat artifact when ``--status-file`` is given
    (ref worker_sync.py:62-79)."""
    from export_oltp_to_olap_spark.streaming.cdc import start_cdc_stream

    ticker_stop = None
    if args.status_file:
        from export_oltp_to_olap_spark.ops_http import (
            HeartbeatListener,
            start_heartbeat_ticker,
            write_worker_status,
        )

        write_worker_status(args.status_file, {"event": "starting"})
        spark.streams.addListener(HeartbeatListener(args.status_file))
        ticker_stop = start_heartbeat_ticker(args.status_file)

    oltp = load_oltp(spark, args.source_dir)
    query = start_cdc_stream(
        spark,
        args.feed_dir,
        oltp,
        args.target_dir,
        args.checkpoint,
        available_now=not args.continuous,
        propagate_deletes=args.propagate_deletes,
    )
    try:
        query.awaitTermination()
    finally:
        if ticker_stop is not None:
            ticker_stop.set()
    print(f"worker: drained feed {args.feed_dir} into {args.target_dir}")
    return 0


def make_sync_runner(spark: SparkSession, source_dir: str, target_dir: str):
    """The /sync trigger body: in-process full or per-record sync against
    the warm session (replaces the reference's subprocess fork per hit,
    ref main.py:88-103 — same response keys, no per-request startup)."""
    import time as _time

    from export_oltp_to_olap_spark.plans.star import (
        build_star,
        build_star_incremental,
        merge_star,
    )

    def run(table: str | None, op: str | None, record_id: int | None) -> dict:
        t0 = _time.perf_counter()
        oltp = load_oltp(spark, source_dir)
        if table is None:
            star = build_star(oltp, sk_mode="xxhash64")
            detail = f"sync: full rebuild merged into {target_dir}"
        else:
            star = build_star_incremental(
                oltp, table, op, record_id, sk_mode="xxhash64"
            )
            detail = f"sync: incremental {table} id={record_id} merged into {target_dir}"
        merge_star(spark, star, target_dir)
        return {
            "returncode": 0,
            "stdout": [detail, f"elapsed_seconds={_time.perf_counter() - t0:.3f}"],
            "stderr": [],
        }

    return run


def cmd_optimize(args: argparse.Namespace, spark: SparkSession) -> int:
    """Maintenance rewrite: merge a table's file spray into target-size
    files (`sources/layout.py::compact_parquet`), optionally restoring
    sorted layout.  The OPTIMIZE step streaming sinks and per-batch
    appends need on a cadence."""
    from export_oltp_to_olap_spark.sources.layout import compact_parquet

    order_cols = args.sort_by.split(",") if args.sort_by else None
    n = compact_parquet(
        spark,
        args.path,
        target_file_bytes=args.target_file_mb * 1024 * 1024,
        order_cols=order_cols,
    )
    print(json.dumps({"compacted": args.path, "files": n}))
    return 0


def cmd_table_versions(args: argparse.Namespace, spark: SparkSession) -> int:
    """List a versioned table's committed snapshots (and optionally
    vacuum to the newest N) — the lake-maintenance face of
    `operators/timetravel.py`, on the same cadence as `optimize`."""
    from export_oltp_to_olap_spark.operators import timetravel as tt

    removed = []
    if args.vacuum_keep is not None:
        removed = tt.vacuum_versions(args.root, keep_last=args.vacuum_keep)
    versions = tt.committed_versions(args.root)
    rows = None
    if args.count and versions:
        rows = tt.read_table_version(spark, args.root).count()
    print(
        json.dumps(
            {
                "root": args.root,
                "committed_versions": versions,
                "vacuumed": removed,
                "latest_rows": rows,
            }
        )
    )
    return 0


def cmd_export_corpus(args: argparse.Namespace, spark: SparkSession) -> int:
    """The end-to-end corpus build a training run consumes: curation
    chain (lang/quality gates -> exact dedup -> near-dup drop -> split
    assignment, `plans/curation.py::curated_corpus`) exported as
    deterministic training shards per split
    (`operators/sampling.py::write_training_shards`), plus a JSON
    manifest of per-split/per-shard yields."""
    from export_oltp_to_olap_spark.operators.sampling import (
        N_SHARDS,
        assign_shards,
    )
    from export_oltp_to_olap_spark.plans.curation import curated_corpus
    from export_oltp_to_olap_spark.sources.parquet import load_tables

    docs = load_tables(spark, args.source_dir, ("documents",))["documents"]
    eval_docs = eval_hashes = None
    if args.eval_hashes:
        from export_oltp_to_olap_spark.operators.decontam import load_eval_hashes

        eval_hashes = load_eval_hashes(args.eval_hashes)
    elif args.eval_dir:
        eval_docs = spark.read.parquet(args.eval_dir).select("doc_id", "text")
    corpus = curated_corpus(docs, eval_docs=eval_docs, eval_hashes=eval_hashes)
    n_shards = args.shards or N_SHARDS
    sharded = assign_shards(corpus, "doc_id", n_shards)
    (
        sharded.repartition(n_shards, "shard")
        .sortWithinPartitions("split", "shard", "pos", "doc_id")
        .write.mode("overwrite")
        .partitionBy("split", "shard")
        .parquet(args.out_dir)
    )
    # Manifest from the WRITTEN lake, not from re-executing `sharded`:
    # the second execution used to re-run the whole curation chain
    # (gates -> dedup -> near-dup -> split) just to count; counting the
    # output is a zero-column scan over the partitioned files and
    # reports what actually landed on disk.
    manifest = [
        {"split": r["split"], "shard": int(r["shard"]), "n_docs": r["n_docs"]}
        for r in spark.read.parquet(args.out_dir)
        .groupBy("split", "shard")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("split", "shard")
        .collect()
    ]
    out = {"out_dir": args.out_dir, "n_shards": n_shards, "yields": manifest}
    print(json.dumps(out))
    return 0


def cmd_eval_hashes(args: argparse.Namespace, spark: SparkSession) -> int:
    """Compute the standing eval-gram artifact ONCE and persist it
    (`operators/decontam.eval_gram_hashes` → `save_eval_hashes`), so
    every later `export-corpus --eval-hashes` run / delta batch / stream
    start reuses it instead of re-shingling the benchmark suite — the
    compute-once/reuse-per-batch production pattern, drivable end to end
    from the command line (VERDICT r6 item 5)."""
    from export_oltp_to_olap_spark.operators.decontam import (
        eval_gram_hashes,
        save_eval_hashes,
    )
    from export_oltp_to_olap_spark.sources.parquet import load_tables

    if args.eval_dir:
        eval_docs = spark.read.parquet(args.eval_dir).select("doc_id", "text")
    elif args.source_dir:
        from export_oltp_to_olap_spark.plans.curation import fixture_eval_docs

        docs = load_tables(spark, args.source_dir, ("documents",))["documents"]
        eval_docs = fixture_eval_docs(docs)
    else:
        print("eval-hashes: need --eval-dir or --source-dir", file=sys.stderr)
        return 2
    m = args.bloom_m_bits
    if args.bloom_out and (m <= 0 or m & (m - 1)):
        # the CLI's invalid-input convention is stderr + rc 2, not the
        # eval_gram_bloom ValueError traceback (ADVICE r7)
        print(
            f"eval-hashes: --bloom-m-bits must be a power of two, got {m}",
            file=sys.stderr,
        )
        return 2
    hashes = eval_gram_hashes(eval_docs)
    save_eval_hashes(hashes, args.out)
    out = {"out": args.out, "n_grams": int(len(hashes))}
    if args.bloom_out:
        from export_oltp_to_olap_spark.operators.decontam import (
            BLOOM_K,
            eval_gram_bloom,
            save_eval_bloom,
        )

        bm = eval_gram_bloom(eval_docs, m_bits=args.bloom_m_bits)
        save_eval_bloom(bm, args.bloom_out, k=BLOOM_K)
        out["bloom_out"] = args.bloom_out
        out["bloom_bytes"] = int(len(bm))
    print(json.dumps(out))
    return 0


def cmd_fuzzy_index(args: argparse.Namespace, spark: SparkSession) -> int:
    """Persist the FROZEN fuzzy-decontamination eval index
    (`operators/decontam.fuzzy_eval_index`: MinHash band rows + raw
    shingle sets) that `fuzzy_decontam_at_ingest` probes per batch or
    stream — the compute-once/reuse-per-batch pattern `eval-hashes`
    established, extended to the NEAR-DUPLICATE leak class."""
    from export_oltp_to_olap_spark.operators.decontam import fuzzy_eval_index
    from export_oltp_to_olap_spark.sources.parquet import load_tables

    if args.eval_dir:
        eval_docs = spark.read.parquet(args.eval_dir).select("doc_id", "text")
    elif args.source_dir:
        from export_oltp_to_olap_spark.plans.curation import fixture_eval_docs

        docs = load_tables(spark, args.source_dir, ("documents",))["documents"]
        eval_docs = fixture_eval_docs(docs)
    else:
        print("fuzzy-index: need --eval-dir or --source-dir", file=sys.stderr)
        return 2
    bands, esets = fuzzy_eval_index(eval_docs)
    bands_out = os.path.join(args.out, "bands.parquet")
    sets_out = os.path.join(args.out, "sets.parquet")
    bands.write.mode("overwrite").parquet(bands_out)
    esets.write.mode("overwrite").parquet(sets_out)
    n_bands = spark.read.parquet(bands_out).count()
    n_sets = spark.read.parquet(sets_out).count()
    print(
        json.dumps(
            {
                "bands_out": bands_out,
                "sets_out": sets_out,
                "n_band_rows": int(n_bands),
                "n_eval_docs": int(n_sets),
            }
        )
    )
    return 0


def cmd_semantic_index(args: argparse.Namespace, spark: SparkSession) -> int:
    """Persist the FROZEN semantic-decontamination eval index
    (`operators/similarity.semantic_eval_index`: the eval vectors'
    Hamming≤1 multi-probe band table + the rescore vectors) that
    `semantic_decontam_at_ingest` probes per batch or stream — the
    `fuzzy-index` compute-once pattern extended to the PARAPHRASE leak
    class (VERDICT r13 item 3)."""
    from export_oltp_to_olap_spark.operators.similarity import (
        SEMANTIC_DECONTAM_EVAL_MOD,
        SEMANTIC_DECONTAM_EVAL_REMAINDER,
        semantic_eval_index,
    )

    if args.eval_dir:
        eval_vecs = spark.read.parquet(args.eval_dir).select(
            "vec_id", "embedding"
        )
    elif args.source_dir:
        emb = spark.read.parquet(
            os.path.join(args.source_dir, "embeddings.parquet")
        )
        eval_vecs = emb.where(
            F.col("vec_id") % SEMANTIC_DECONTAM_EVAL_MOD
            == SEMANTIC_DECONTAM_EVAL_REMAINDER
        ).select("vec_id", "embedding")
    else:
        print("semantic-index: need --eval-dir or --source-dir", file=sys.stderr)
        return 2
    probes, vecs = semantic_eval_index(eval_vecs)
    probes_out = os.path.join(args.out, "probes.parquet")
    vecs_out = os.path.join(args.out, "vecs.parquet")
    probes.write.mode("overwrite").parquet(probes_out)
    vecs.write.mode("overwrite").parquet(vecs_out)
    n_probes = spark.read.parquet(probes_out).count()
    n_vecs = spark.read.parquet(vecs_out).count()
    print(
        json.dumps(
            {
                "probes_out": probes_out,
                "vecs_out": vecs_out,
                "n_probe_rows": int(n_probes),
                "n_eval_vectors": int(n_vecs),
            }
        )
    )
    return 0


def cmd_curate_ledger_init(args: argparse.Namespace, spark: SparkSession) -> int:
    """Bootstrap the persisted CURATION LEDGER — the four parquet
    tables the delete/CDC maintenance loop reads and rewrites per
    batch (`plans/curation.py::curation_standing_ledger` + the
    keepers' shingle-set side table): keepers, losers, verified
    near-dup pairs, sets.  Run once per corpus; after that,
    ``curate-ledger-apply`` maintains the tables batch-over-batch
    without ever re-gating or re-shingling the corpus.  The sets table
    is the one the pair build already staged, so the keepers are
    shingled once."""
    from export_oltp_to_olap_spark.plans.curation import curation_standing_ledger

    docs = spark.read.parquet(args.corpus).select("doc_id", "text")
    keepers, losers, pairs, sets = curation_standing_ledger(docs, return_sets=True)
    counts = {}
    for name, df in (
        ("keepers", keepers),
        ("losers", losers),
        ("pairs", pairs),
        ("sets", sets),
    ):
        out = os.path.join(args.out, f"{name}.parquet")
        df.write.mode("overwrite").parquet(out)
        counts[f"n_{name}"] = int(spark.read.parquet(out).count())
    print(json.dumps({"ledger_out": args.out, **counts}))
    return 0


_CDC_BATCH_SCHEMA = "doc_id long, op string, text string"


def cmd_curate_ledger_apply(args: argparse.Namespace, spark: SparkSession) -> int:
    """Apply ONE CDC batch (upserts + deletes) to a persisted curation
    ledger: reads the four ledger tables and a batch file (JSON lines
    or parquet with ``doc_id, op ∈ {delete, upsert}, text``), runs
    `curated_upsert_ledger`, and writes the NEXT ledger plus the
    curated output rows (``curated.parquet``: doc_id, quality, split)
    under ``--out``.  Chained applies provably converge to the fresh
    rebuild's ledger (pytest-pinned).  ``--out`` must differ from
    ``--ledger``: keepers and pairs come back staged, but losers, sets
    and the curated rows still derive lazily FROM the input tables, so
    writing over the input would self-truncate mid-read."""
    from export_oltp_to_olap_spark.plans.curation import curated_upsert_ledger

    if os.path.abspath(args.out) == os.path.abspath(args.ledger):
        print(
            "curate-ledger-apply: --out must differ from --ledger "
            "(lazy reads of the input tables feed the output write)",
            file=sys.stderr,
        )
        return 2
    ledger = {
        n: spark.read.parquet(os.path.join(args.ledger, f"{n}.parquet"))
        for n in ("keepers", "losers", "pairs", "sets")
    }
    if args.batch.endswith(".parquet"):
        batch = spark.read.parquet(args.batch)
    else:
        batch = spark.read.schema(_CDC_BATCH_SCHEMA).json(args.batch)
    deleted = batch.where(F.col("op") == "delete").select("doc_id")
    changed = batch.where(F.col("op") == "upsert").select("doc_id", "text")
    keepers, losers, pairs, sets, out = curated_upsert_ledger(
        deleted,
        changed,
        ledger["keepers"],
        ledger["losers"],
        ledger["pairs"],
        standing_sets=ledger["sets"],
    )
    counts = {}
    for name, df in (
        ("keepers", keepers),
        ("losers", losers),
        ("pairs", pairs),
        ("sets", sets),
        ("curated", out),
    ):
        path = os.path.join(args.out, f"{name}.parquet")
        df.write.mode("overwrite").parquet(path)
        counts[f"n_{name}"] = int(spark.read.parquet(path).count())
    print(
        json.dumps(
            {
                "ledger_out": args.out,
                "n_deleted": int(deleted.distinct().count()),
                "n_upserts": int(changed.count()),
                **counts,
            }
        )
    )
    return 0


def cmd_fingerprints(args: argparse.Namespace, spark: SparkSession) -> int:
    """Winnowing fingerprints (MOSS) from the command line: persist the
    per-doc fingerprint set, or the per-doc summary + clone-signal
    report with ``--report``."""
    from export_oltp_to_olap_spark.operators import winnow
    from export_oltp_to_olap_spark.sources.parquet import load_tables

    docs = load_tables(spark, args.source_dir, ("documents",))["documents"]
    fn = winnow.fingerprint_report if args.report else winnow.winnowing_fingerprints
    df = fn(docs, k=args.k, w=args.w)
    df.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"out": args.out, "rows": int(n), "k": args.k, "w": args.w}))
    return 0


def cmd_strip_spans(args: argparse.Namespace, spark: SparkSession) -> int:
    """Span-removal rewrites from the command line: persist the cleaned
    normalized token streams.  ``--mode dup`` cuts non-canonical
    duplicated passages (`substring.strip_duplicated_spans`); ``--mode
    decontam`` cuts eval-colliding windows from the train split
    (`decontam.decontaminated_strip_rewrite`, optionally against an
    external ``--eval-dir`` benchmark set)."""
    from pyspark.sql import functions as F

    from export_oltp_to_olap_spark.operators import decontam, substring
    from export_oltp_to_olap_spark.sources.parquet import load_tables

    docs = load_tables(spark, args.source_dir, ("documents",))["documents"]
    # per-mode default widths: the faces' own fixture conventions
    if args.mode == "dup":
        if args.eval_dir:
            # --eval-dir only means something to decontam mode; a user
            # who supplied a benchmark set but forgot --mode decontam
            # would otherwise get a span-dedup rewrite with no warning.
            print(
                "strip-spans: --eval-dir requires --mode decontam "
                "(--mode dup ignores the benchmark set)",
                file=sys.stderr,
            )
            return 2
        n = args.n or substring.FIXTURE_SPAN_N
        df = substring.strip_duplicated_spans(docs, n=n)
    elif args.eval_dir:
        n = args.n or decontam.FIXTURE_N
        eval_docs = spark.read.parquet(args.eval_dir).select("doc_id", "text")
        df = decontam.strip_contaminated_spans(docs, eval_docs, n=n)
    else:
        n = args.n or decontam.FIXTURE_N
        df = decontam.decontaminated_strip_rewrite(docs, n=n)
    df.write.mode("overwrite").parquet(args.out)
    agg = spark.read.parquet(args.out).agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum("removed_tokens").alias("removed"),
        F.sum("n_tokens").alias("total"),
    ).first()
    print(
        json.dumps(
            {
                "out": args.out,
                "mode": args.mode,
                "n": n,
                "rows": int(agg["rows"]),
                "removed_tokens": int(agg["removed"] or 0),
                "total_tokens": int(agg["total"] or 0),
            }
        )
    )
    return 0


def cmd_quality_model(args: argparse.Namespace, spark: SparkSession) -> int:
    """Train-once / score-many for the learned quality classifier
    (VERDICT r4 item 4).  ``--train`` fits L-BFGS on the deterministic
    train split and persists the ~20-coefficient artifact
    (`operators/quality_model.py::save_quality_model`); without it, the
    saved artifact scores the corpus MAP-SIDE (pure column expression,
    no ML runtime, no retraining) and optionally writes parquet."""
    from export_oltp_to_olap_spark.operators import quality_model as qm
    from export_oltp_to_olap_spark.sources.parquet import load_tables

    docs = load_tables(spark, args.source_dir, ("documents",))["documents"].select(
        "doc_id", "text"
    )
    if args.train:
        model = qm.train_weakly_supervised(docs)
        qm.save_quality_model(model, args.model_dir)
        print(
            json.dumps(
                {
                    "model_dir": args.model_dir,
                    "n_features": len(qm.feature_names()),
                    "intercept": round(float(model.intercept), 6),
                }
            )
        )
        return 0
    artifact = qm.load_quality_model(spark, args.model_dir)
    scored = qm.score_quality_saved(docs, artifact)
    if args.score_out:
        scored.write.mode("overwrite").parquet(args.score_out)
    stats = scored.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("quality_prob"), 4).alias("mean_prob"),
    ).first()
    print(
        json.dumps(
            {
                "model_dir": args.model_dir,
                "score_out": args.score_out,
                "n_docs": stats["n_docs"],
                "mean_prob": stats["mean_prob"],
            }
        )
    )
    return 0


def _persist_rule_flags(flags, out: str, spark: SparkSession) -> int:
    """Shared tail of the rule-filter commands: persist the per-doc
    flag table and print per-rule rejection counts so an operator sees
    WHICH rule dominates before exporting."""
    flags.write.mode("overwrite").parquet(out)
    persisted = spark.read.parquet(out)
    flag_cols = [c for c in persisted.columns if c.startswith("flag_")]
    agg = persisted.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        *[
            F.sum((~F.col(c)).cast("long")).alias(c)
            for c in flag_cols
        ],
    ).first()
    print(
        json.dumps(
            {
                "out": out,
                "n_docs": int(agg["n_docs"]),
                "n_kept": int(agg["n_kept"] or 0),
                "rejected_by_rule": {c: int(agg[c] or 0) for c in flag_cols},
            }
        )
    )
    return 0


def cmd_gopher_filter(args: argparse.Namespace, spark: SparkSession) -> int:
    """Run the Gopher rule-set filter over a corpus and persist the
    per-doc flag table."""
    from export_oltp_to_olap_spark.plans.text_queries import gopher_quality_flags
    from export_oltp_to_olap_spark.sources.parquet import load_tables

    docs = load_tables(spark, args.source_dir, ("documents",))["documents"]
    return _persist_rule_flags(gopher_quality_flags(docs), args.out, spark)


def cmd_c4_filter(args: argparse.Namespace, spark: SparkSession) -> int:
    """Run the C4 rule-set over a corpus: default persists the per-doc
    flag table (same summary shape as gopher-filter); ``--rewrite``
    instead persists the TRANSFORMED corpus (surviving pages, only
    their rule-passing lines) and prints the removal totals."""
    from export_oltp_to_olap_spark.plans.text_queries import (
        c4_line_filter,
        c4_quality_flags,
    )
    from export_oltp_to_olap_spark.sources.parquet import load_tables

    docs = load_tables(spark, args.source_dir, ("documents",))["documents"]
    if not args.rewrite:
        return _persist_rule_flags(c4_quality_flags(docs), args.out, spark)
    c4_line_filter(docs).write.mode("overwrite").parquet(args.out)
    agg = spark.read.parquet(args.out).agg(
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum("removed_chars"), F.lit(0)).alias("removed"),
        F.coalesce(F.sum(F.length("cleaned")), F.lit(0)).alias("kept_chars"),
    ).first()
    print(
        json.dumps(
            {
                "out": args.out,
                "surviving_pages": int(agg["rows"]),
                "removed_chars": int(agg["removed"]),
                "kept_chars": int(agg["kept_chars"]),
            }
        )
    )
    return 0


def cmd_corpus_stats(args: argparse.Namespace, spark: SparkSession) -> int:
    """Persist the corpus data-card statistics in one pass over the
    corpus directory: the token Zipf spectrum, the document-length
    spectrum, and the cross-source head-vocabulary overlap — the three
    tables a data card plots.  Prints a one-line JSON summary."""
    from export_oltp_to_olap_spark.plans.text_queries import (
        doc_length_spectrum,
        source_vocab_overlap,
        token_zipf_spectrum,
    )
    from export_oltp_to_olap_spark.sources.parquet import load_tables

    docs = load_tables(spark, args.source_dir, ("documents",))["documents"]
    summary = {}
    for name, df in (
        ("token_zipf_spectrum", token_zipf_spectrum(docs)),
        ("doc_length_spectrum", doc_length_spectrum(docs)),
        ("source_vocab_overlap", source_vocab_overlap(docs)),
    ):
        out = f"{args.out}/{name}"
        df.write.mode("overwrite").parquet(out)
        summary[name] = spark.read.parquet(out).count()
    print(json.dumps({"out": args.out, "rows": summary}))
    return 0


def cmd_vocab_classes(args: argparse.Namespace, spark: SparkSession) -> int:
    """Persist the frozen vocabulary-pruning artifact (tok → class):
    compute corpus df once, classify every token against the df
    band-pass, write the (tok, cls) parquet any later
    `vocab_prune_at_ingest` stream or batch applies without a corpus
    pass — the `eval-hashes` compute-once contract for the vocabulary."""
    from export_oltp_to_olap_spark.plans.text_queries import (
        save_vocab_classes,
        vocab_class_table,
    )
    from export_oltp_to_olap_spark.sources.parquet import load_tables

    docs = load_tables(spark, args.source_dir, ("documents",))["documents"]
    classes = vocab_class_table(docs, args.lo_pct, args.hi_pct)
    save_vocab_classes(classes, args.out)
    by_cls = {
        int(r["cls"]): int(r["n"])
        for r in classes.groupBy("cls").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    print(
        json.dumps(
            {
                "out": args.out,
                "vocab": sum(by_cls.values()),
                "pruned_low": by_cls.get(-1, 0),
                "kept": by_cls.get(0, 0),
                "pruned_high": by_cls.get(1, 0),
            }
        )
    )
    return 0


def cmd_plan_mixture(args: argparse.Namespace, spark: SparkSession) -> int:
    """Persist the sampling-plan tables a pretraining run publishes:
    α-mixture weights, the epoch/repeat plan for the token budget, and
    the capped (waterfilled) plan under the max-epoch ceiling.  One
    JSON summary line with the corpus totals and how many sources the
    cap binds."""
    from export_oltp_to_olap_spark.operators.sampling import (
        capped_epoch_allocation,
        epoch_allocation,
        mixture_weights,
    )
    from export_oltp_to_olap_spark.sources.parquet import load_tables

    docs = load_tables(spark, args.source_dir, ("documents",))["documents"]
    tables = {
        "mixture_weights": mixture_weights(docs, args.alpha_tenths),
        "epoch_allocation": epoch_allocation(
            docs, args.budget_tenths, args.alpha_tenths
        ),
        "capped_epoch_allocation": capped_epoch_allocation(
            docs,
            args.budget_tenths,
            args.alpha_tenths,
            args.max_epochs_tenths,
        ),
    }
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(f"{args.out}/{name}")
    capped = spark.read.parquet(f"{args.out}/capped_epoch_allocation")
    agg = capped.agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("tokens").alias("corpus_tokens"),
        F.sum("target_tokens").alias("planned_tokens"),
        F.sum(F.col("capped").cast("long")).alias("n_capped"),
    ).first()
    print(
        json.dumps(
            {
                "out": args.out,
                "n_sources": agg["n_sources"],
                "corpus_tokens": int(agg["corpus_tokens"]),
                "planned_tokens": int(agg["planned_tokens"]),
                "n_capped": int(agg["n_capped"]),
                "budget_tenths": args.budget_tenths,
                "max_epochs_tenths": args.max_epochs_tenths,
            }
        )
    )
    return 0


def cmd_explain(args: argparse.Namespace, spark: SparkSession) -> int:
    """Plan review from the terminal: the scale counters
    (`plan_audit.py::plan_summary`) for one registered query, or the
    flagged sweep over all of them (`--all`).  `--full` additionally
    prints the raw physical plan; `--execute` finalizes AQE first so
    runtime re-optimizations show."""
    from export_oltp_to_olap_spark import plan_audit, registry

    registry._ensure_loaded()
    if args.all:
        rows = plan_audit.audit_plans(spark, args.sf_dir, plan_only=args.plan_only)
        print(json.dumps(rows))
        return 0 if not any(r["flags"] for r in rows) else 3
    if args.query is None or args.query not in registry.REGISTRY:
        print(json.dumps({"error": f"unknown or missing query {args.query!r}"}))
        return 2
    df = registry.REGISTRY[args.query].fn(spark, args.sf_dir)
    summary = plan_audit.plan_summary(df, execute=args.execute)
    print(json.dumps({"query": args.query, **summary}))
    if args.full:
        print(plan_audit.executed_plan(df))
    return 0


def cmd_web(args: argparse.Namespace, spark: SparkSession | None) -> int:
    """Ops HTTP server (ref main.py web subcommand)."""
    from export_oltp_to_olap_spark.ops_http import start_ops_server

    sync_runner = None
    if args.source_dir and args.target_dir:
        if spark is None:  # pragma: no cover - main() always passes one
            from export_oltp_to_olap_spark.session import get_spark

            spark = get_spark(app_name="web")
        sync_runner = make_sync_runner(spark, args.source_dir, args.target_dir)
    server = start_ops_server(args.host, args.port, args.status_file, sync_runner)
    host, port = server.server_address[:2]
    print(f"web: ops server on {host}:{port} (status file {args.status_file})")
    try:
        while True:  # serve until interrupted (ref main.py:133)
            import time as _time

            _time.sleep(3600)
    except KeyboardInterrupt:
        server.shutdown()
    return 0


def _positive_int(value: str) -> int:
    """argparse type for knobs where zero is destructive, not a choice
    (``--vacuum-keep 0`` would mean "delete every copy"): reject < 1 as
    a clean usage error instead of an uncaught ValueError traceback
    (ADVICE r11)."""
    n = int(value)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {n}")
    return n


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="export_oltp_to_olap_spark")
    sub = p.add_subparsers(dest="command", required=True)

    sync = sub.add_parser("sync", help="full or incremental star sync (ref §3.1/§3.2)")
    sync.add_argument("--source-dir", required=True)
    sync.add_argument("--target-dir", required=True)
    sync.add_argument("--table", default=None, help="changed OLTP table (incremental)")
    sync.add_argument("--op", default=None, help="accepted and ignored, like the reference")
    sync.add_argument("--id", type=int, default=None, help="changed record id")
    sync.add_argument("--sk-mode", default="xxhash64", choices=["xxhash64", "dense_rank"])
    sync.add_argument(
        "--full-refresh",
        action="store_true",
        help="overwrite targets instead of merging (initial load)",
    )
    sync.set_defaults(fn=cmd_sync)

    once = sub.add_parser("once", help="one-shot full sync (ref main.py once)")
    once.add_argument("--source-dir", required=True)
    once.add_argument("--target-dir", required=True)
    once.add_argument("--sk-mode", default="xxhash64", choices=["xxhash64", "dense_rank"])
    once.set_defaults(fn=cmd_sync, table=None, op=None, id=None, full_refresh=False)

    worker = sub.add_parser("worker", help="streaming CDC merge (ref main.py worker)")
    worker.add_argument("--source-dir", required=True)
    worker.add_argument("--feed-dir", required=True)
    worker.add_argument("--target-dir", required=True)
    worker.add_argument("--checkpoint", required=True)
    worker.add_argument(
        "--continuous",
        action="store_true",
        help="keep running (default drains the feed and exits, like `once`)",
    )
    worker.add_argument(
        "--status-file",
        default=None,
        help="write the worker_status.json heartbeat artifact here "
        "(ref worker_sync.py:62-79)",
    )
    worker.add_argument(
        "--propagate-deletes",
        action="store_true",
        help="route op=delete events to OLAP tombstones (beyond the "
        "reference, which ignores deletes; needs a lineage-seeded star — "
        "streaming/cdc.py::apply_cdc_deletes)",
    )
    worker.set_defaults(fn=cmd_worker)

    web = sub.add_parser(
        "web", help="health/worker-status/sync HTTP server (ref main.py web)"
    )
    web.add_argument("--host", default=os.getenv("HOST", "127.0.0.1"))
    web.add_argument("--port", type=int, default=int(os.getenv("PORT", "8080")))
    web.add_argument(
        "--status-file",
        default=os.getenv("WORKER_STATUS_FILE", "worker_status.json"),
        help="heartbeat artifact read by /worker-status",
    )
    web.add_argument("--source-dir", default=None, help="enables /sync when set")
    web.add_argument("--target-dir", default=None, help="enables /sync when set")
    web.set_defaults(fn=cmd_web)

    optimize = sub.add_parser(
        "optimize",
        help="compact a parquet table's small files (maintenance rewrite; "
        "optionally range-sort to restore min/max pruning)",
    )
    optimize.add_argument("path", help="parquet directory to compact in place")
    optimize.add_argument(
        "--target-file-mb", type=int, default=128, help="output file size target"
    )
    optimize.add_argument(
        "--sort-by",
        default=None,
        help="comma-separated columns: also range-sort during the rewrite",
    )
    optimize.set_defaults(fn=cmd_optimize)

    export = sub.add_parser(
        "export-corpus",
        help="run the curation chain and export deterministic training "
        "shards per split, with a yield manifest",
    )
    export.add_argument("--source-dir", required=True, help="fixture parquet dir")
    export.add_argument("--out-dir", required=True)
    export.add_argument("--shards", type=int, default=None)
    export.add_argument(
        "--eval-hashes",
        default=None,
        help="persisted eval-gram artifact (from `eval-hashes`): adds the "
        "decontamination stage using the standing hashes — no re-shingling",
    )
    export.add_argument(
        "--eval-dir",
        default=None,
        help="parquet of benchmark docs (doc_id, text): derive eval grams in-call",
    )
    export.set_defaults(fn=cmd_export_corpus)

    evalh = sub.add_parser(
        "eval-hashes",
        help="persist the standing eval n-gram hash artifact "
        "(compute once, reuse per corpus export / delta batch)",
    )
    evalh.add_argument(
        "--eval-dir", default=None, help="parquet of benchmark docs (doc_id, text)"
    )
    evalh.add_argument(
        "--source-dir",
        default=None,
        help="fixture dir: use the stand-in benchmark (test hash split of raw "
        "documents) when no --eval-dir is given",
    )
    evalh.add_argument("--out", required=True, help="artifact path (parquet file)")
    evalh.add_argument(
        "--bloom-out",
        default=None,
        help="also persist the Bloom bitmap artifact (the beyond-broadcast "
        "eval structure for contamination_hits_bloom)",
    )
    evalh.add_argument(
        "--bloom-m-bits",
        type=int,
        default=1 << 24,
        help="bitmap size in bits (power of two; sets the fp budget)",
    )
    evalh.set_defaults(fn=cmd_eval_hashes)

    fidx = sub.add_parser(
        "fuzzy-index",
        help="persist the frozen fuzzy-decontamination eval index "
        "(MinHash band rows + raw shingle sets) the at-ingest gate probes",
    )
    fidx.add_argument(
        "--eval-dir", default=None, help="parquet of benchmark docs (doc_id, text)"
    )
    fidx.add_argument(
        "--source-dir",
        default=None,
        help="fixture dir: use the stand-in benchmark (test hash split) "
        "when no --eval-dir is given",
    )
    fidx.add_argument("--out", required=True, help="output dir (bands + sets parquet)")
    fidx.set_defaults(fn=cmd_fuzzy_index)

    sidx = sub.add_parser(
        "semantic-index",
        help="persist the frozen SEMANTIC-decontamination eval index "
        "(multi-probe band table + rescore vectors) the at-ingest gate probes",
    )
    sidx.add_argument(
        "--eval-dir",
        default=None,
        help="parquet of benchmark vectors (vec_id, embedding)",
    )
    sidx.add_argument(
        "--source-dir",
        default=None,
        help="fixture dir: use the stand-in benchmark slice "
        "(vec_id %% 10 == 3 of embeddings.parquet) when no --eval-dir is given",
    )
    sidx.add_argument(
        "--out", required=True, help="output dir (probes + vecs parquet)"
    )
    sidx.set_defaults(fn=cmd_semantic_index)

    clinit = sub.add_parser(
        "curate-ledger-init",
        help="bootstrap the persisted curation ledger (keepers, losers, "
        "verified pairs, shingle sets) the CDC maintenance loop rewrites",
    )
    clinit.add_argument(
        "--corpus", required=True, help="parquet of (doc_id, text) documents"
    )
    clinit.add_argument("--out", required=True, help="ledger output dir")
    clinit.set_defaults(fn=cmd_curate_ledger_init)

    clapply = sub.add_parser(
        "curate-ledger-apply",
        help="apply one CDC batch (upserts + deletes) to a persisted "
        "curation ledger; writes the next ledger + curated.parquet",
    )
    clapply.add_argument(
        "--ledger", required=True, help="dir written by curate-ledger-init/apply"
    )
    clapply.add_argument(
        "--batch",
        required=True,
        help="JSON-lines or parquet batch: doc_id, op in {delete, upsert}, text",
    )
    clapply.add_argument(
        "--out", required=True, help="next-ledger output dir (must differ)"
    )
    clapply.set_defaults(fn=cmd_curate_ledger_apply)

    fprints = sub.add_parser(
        "fingerprints",
        help="winnowing (MOSS) document fingerprints: per-doc fingerprint "
        "set, or the summary + clone-signal report with --report",
    )
    fprints.add_argument("--source-dir", required=True, help="fixture parquet dir")
    fprints.add_argument("--out", required=True, help="output parquet dir")
    fprints.add_argument("--report", action="store_true")
    fprints.add_argument("--k", type=int, default=4, help="k-gram width")
    fprints.add_argument("--w", type=int, default=5, help="winnowing window")
    fprints.set_defaults(fn=cmd_fingerprints)

    sspans = sub.add_parser(
        "strip-spans",
        help="span-removal rewrites: cut duplicated passages (dup) or "
        "eval-colliding windows (decontam) out of the corpus text",
    )
    sspans.add_argument("--source-dir", required=True, help="fixture parquet dir")
    sspans.add_argument("--out", required=True, help="output parquet dir")
    sspans.add_argument(
        "--mode", choices=("dup", "decontam"), default="dup", help="window source"
    )
    sspans.add_argument(
        "--eval-dir",
        default=None,
        help="decontam mode: parquet of benchmark docs (doc_id, text); "
        "defaults to the fixture's test-split stand-in",
    )
    sspans.add_argument("--n", type=int, default=None, help="window width in tokens")
    sspans.set_defaults(fn=cmd_strip_spans)

    qmodel = sub.add_parser(
        "quality-model",
        help="train-once (persist coefficients) / score-many (map-side, "
        "no retraining) for the learned quality classifier",
    )
    qmodel.add_argument("--source-dir", required=True, help="fixture parquet dir")
    qmodel.add_argument("--model-dir", required=True, help="coefficient artifact dir")
    qmodel.add_argument(
        "--train", action="store_true", help="fit and persist instead of scoring"
    )
    qmodel.add_argument(
        "--score-out", default=None, help="also write (doc_id, quality_prob) parquet"
    )
    qmodel.set_defaults(fn=cmd_quality_model)

    gfilter = sub.add_parser(
        "gopher-filter",
        help="persist the Gopher rule-set flag table; summary prints "
        "per-rule rejection counts",
    )
    gfilter.add_argument("--source-dir", required=True, help="fixture parquet dir")
    gfilter.add_argument("--out", required=True, help="flag-table parquet dir")
    gfilter.set_defaults(fn=cmd_gopher_filter)

    c4filter = sub.add_parser(
        "c4-filter",
        help="persist the C4 rule-set flag table (default) or, with "
        "--rewrite, the line-filtered corpus itself",
    )
    c4filter.add_argument("--source-dir", required=True, help="fixture parquet dir")
    c4filter.add_argument("--out", required=True, help="output parquet dir")
    c4filter.add_argument(
        "--rewrite",
        action="store_true",
        help="persist surviving pages with only rule-passing lines",
    )
    c4filter.set_defaults(fn=cmd_c4_filter)

    cstats = sub.add_parser(
        "corpus-stats",
        help="persist the data-card statistics tables (Zipf spectrum, "
        "doc-length spectrum, source vocabulary overlap)",
    )
    cstats.add_argument("--source-dir", required=True, help="fixture parquet dir")
    cstats.add_argument("--out", required=True, help="output parquet root")
    cstats.set_defaults(fn=cmd_corpus_stats)

    tvers = sub.add_parser(
        "table-versions",
        help="list a versioned table's committed snapshots; --vacuum-keep N "
        "drops older versions and crashed partial publishes",
    )
    tvers.add_argument("--root", required=True, help="versioned table root")
    tvers.add_argument(
        "--vacuum-keep",
        type=_positive_int,
        default=None,
        help="vacuum to the newest N committed versions (N >= 1; "
        "retention never drops to zero copies)",
    )
    tvers.add_argument(
        "--count", action="store_true", help="also count the latest snapshot's rows"
    )
    tvers.set_defaults(fn=cmd_table_versions)

    vclasses = sub.add_parser(
        "vocab-classes",
        help="persist the frozen vocabulary-pruning artifact (tok, cls) "
        "that vocab_prune_at_ingest applies per batch/stream",
    )
    vclasses.add_argument("--source-dir", required=True, help="fixture parquet dir")
    vclasses.add_argument("--out", required=True, help="output parquet file")
    vclasses.add_argument("--lo-pct", type=int, default=10)
    vclasses.add_argument("--hi-pct", type=int, default=78)
    vclasses.set_defaults(fn=cmd_vocab_classes)

    pmix = sub.add_parser(
        "plan-mixture",
        help="persist the sampling-plan tables (mixture weights, epoch "
        "allocation, capped waterfilled allocation)",
    )
    pmix.add_argument("--source-dir", required=True, help="fixture parquet dir")
    pmix.add_argument("--out", required=True, help="output parquet root")
    pmix.add_argument("--budget-tenths", type=int, default=30)
    pmix.add_argument("--alpha-tenths", type=int, default=5)
    pmix.add_argument("--max-epochs-tenths", type=int, default=31)
    pmix.set_defaults(fn=cmd_plan_mixture)

    explain = sub.add_parser(
        "explain", help="scale counters for a registered query's physical plan"
    )
    explain.add_argument("query", nargs="?", default=None, help="registered query name")
    explain.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    explain.add_argument(
        "--all", action="store_true", help="sweep every query; exit 3 if any flagged"
    )
    explain.add_argument(
        "--execute", action="store_true", help="run the plan so AQE finalizes first"
    )
    explain.add_argument(
        "--plan-only",
        action="store_true",
        help="skip queries whose builders execute Spark jobs at "
        "construction time — training-job builders (plan_audit."
        "BUILD_EXECUTES) and stage()-materializing builders "
        "(plan_audit.STAGE_EXECUTES) — so the sweep touches no data",
    )
    explain.add_argument("--full", action="store_true", help="also print the raw plan")
    explain.set_defaults(fn=cmd_explain)
    return p


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    args = build_parser().parse_args(argv)
    needs_spark = not (
        args.command == "web" and not (args.source_dir and args.target_dir)
    )
    if spark is None and needs_spark:
        from export_oltp_to_olap_spark.session import get_spark

        spark = get_spark(app_name=f"cli-{args.command}")
    return args.fn(args, spark)


if __name__ == "__main__":
    raise SystemExit(main())
