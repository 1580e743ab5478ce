"""CLI + ops-HTTP entry-point parity (ref §3 lifecycle: sync /
incremental / worker / web, worker heartbeat artifact)."""

from __future__ import annotations

import pytest
import json
import os
import time
import urllib.request

from export_oltp_to_olap_spark.cli import main, make_sync_runner
from export_oltp_to_olap_spark.ops_http import (
    classify_worker_status,
    start_ops_server,
    write_worker_status,
)
from export_oltp_to_olap_spark.plans.star import STAR_WRITE_ORDER, star_table_path

SRC = "/root/testdata/sf0.001"


def _read(spark, target, name):
    return spark.read.parquet(star_table_path(target, name))


def test_cli_full_sync_writes_star(spark, tmp_path):
    target = str(tmp_path / "olap")
    rc = main(["sync", "--source-dir", SRC, "--target-dir", target], spark=spark)
    assert rc == 0
    for name in STAR_WRITE_ORDER:
        assert _read(spark, target, name).count() > 0, name


def test_cli_incremental_sync_converges(spark, tmp_path):
    target = str(tmp_path / "olap")
    main(["sync", "--source-dir", SRC, "--target-dir", target], spark=spark)
    before = sorted(map(tuple, _read(spark, target, "hecho_ventas").collect()))
    rc = main(
        [
            "sync",
            "--source-dir",
            SRC,
            "--target-dir",
            target,
            "--table",
            "orden",
            "--op",
            "update",
            "--id",
            "7",
        ],
        spark=spark,
    )
    assert rc == 0
    after = sorted(map(tuple, _read(spark, target, "hecho_ventas").collect()))
    assert before == after  # re-sync of unchanged data is a no-op


def test_cli_worker_drains_feed(spark, tmp_path):
    target = str(tmp_path / "olap")
    feed = tmp_path / "feed"
    feed.mkdir()
    with open(feed / "events.json", "w") as f:
        for i in (7, 8):
            f.write(
                json.dumps(
                    {"table": "orden", "op": "update", "record_id": i,
                     "ts": "2026-01-01 00:00:00"}
                )
                + "\n"
            )
    rc = main(
        [
            "worker",
            "--source-dir",
            SRC,
            "--feed-dir",
            str(feed),
            "--target-dir",
            target,
            "--checkpoint",
            str(tmp_path / "ckpt"),
        ],
        spark=spark,
    )
    assert rc == 0
    assert os.path.exists(star_table_path(target, "hecho_ventas"))
    assert _read(spark, target, "hecho_ventas").count() > 0


def test_cli_worker_writes_heartbeat_artifact(spark, tmp_path):
    """--status-file produces the reference's worker_status.json
    (ref worker_sync.py:62-79): fresh last_heartbeat, classified up."""
    target = str(tmp_path / "olap")
    feed = tmp_path / "feed"
    feed.mkdir()
    with open(feed / "events.json", "w") as f:
        f.write(
            json.dumps(
                {"table": "orden", "op": "update", "record_id": 7,
                 "ts": "2026-01-01 00:00:00"}
            )
            + "\n"
        )
    status_file = str(tmp_path / "worker_status.json")
    rc = main(
        [
            "worker",
            "--source-dir", SRC,
            "--feed-dir", str(feed),
            "--target-dir", target,
            "--checkpoint", str(tmp_path / "ckpt"),
            "--status-file", status_file,
        ],
        spark=spark,
    )
    assert rc == 0
    with open(status_file, encoding="utf-8") as fh:
        data = json.load(fh)
    assert abs(time.time() - data["last_heartbeat"]) < 120
    assert classify_worker_status(status_file)["worker"] == "up"


def _get(url):
    with urllib.request.urlopen(url, timeout=10) as r:
        return r.status, r.read()


def _get_json(url):
    status, body = _get(url)
    return status, json.loads(body)


@pytest.mark.slow
def test_ops_http_endpoints(spark, tmp_path, monkeypatch):
    """All three reference endpoints (ref main.py:42-113): /health OK,
    /worker-status staleness classification, token-gated /sync that runs
    a real incremental sync in-process."""
    monkeypatch.setenv("SYNC_TOKEN", "s3cret")
    status_file = str(tmp_path / "worker_status.json")
    target = str(tmp_path / "olap")
    main(["sync", "--source-dir", SRC, "--target-dir", target], spark=spark)

    server = start_ops_server(
        "127.0.0.1", 0, status_file, make_sync_runner(spark, SRC, target)
    )
    port = server.server_address[1]
    base = f"http://127.0.0.1:{port}"
    try:
        for path in ("/", "/health", "/healthz"):
            status, body = _get(base + path)
            assert (status, body) == (200, b"OK")

        # not_started → up → stale classification
        status, doc = _get_json(base + "/worker-status")
        assert (status, doc["worker"]) == (200, "not_started")
        write_worker_status(status_file)
        status, doc = _get_json(base + "/worker-status")
        assert doc["worker"] == "up" and doc["age_seconds"] < 120
        stale_ts = int(time.time()) - 500
        with open(status_file, "w", encoding="utf-8") as fh:
            json.dump({"last_heartbeat": stale_ts}, fh)
        _, doc = _get_json(base + "/worker-status")
        assert doc["worker"] == "stale" and doc["age_seconds"] >= 500

        # token gate: missing/wrong token → 403, correct token → 200
        before = sorted(map(tuple, _read(spark, target, "hecho_ventas").collect()))
        try:
            urllib.request.urlopen(base + "/sync?table=orden&id=7", timeout=10)
            raise AssertionError("missing token must 403")
        except urllib.error.HTTPError as e:
            assert e.code == 403
            assert json.loads(e.read()) == {"error": "forbidden"}
        status, doc = _get_json(base + "/sync?table=orden&op=update&id=7&token=s3cret")
        assert status == 200 and doc["returncode"] == 0
        assert any("incremental orden" in line for line in doc["stdout"])
        after = sorted(map(tuple, _read(spark, target, "hecho_ventas").collect()))
        assert before == after  # re-sync of unchanged data is a no-op

        status, _ = _get(base + "/sync?token=s3cret")  # full sync, no table
        assert status == 200

        try:
            _get(base + "/nonexistent")
            raise AssertionError("unknown path must 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        server.shutdown()


def test_ops_http_sync_disabled_and_error_doc(tmp_path, monkeypatch):
    """Without an attached engine /sync is 503; a corrupt status file
    classifies as error (ref main.py:64-65)."""
    monkeypatch.delenv("SYNC_TOKEN", raising=False)
    status_file = str(tmp_path / "worker_status.json")
    with open(status_file, "w", encoding="utf-8") as fh:
        fh.write("{not json")
    server = start_ops_server("127.0.0.1", 0, status_file, sync_runner=None)
    base = f"http://127.0.0.1:{server.server_address[1]}"
    try:
        _, doc = _get_json(base + "/worker-status")
        assert doc["worker"] == "error"
        try:
            _get(base + "/sync")
            raise AssertionError("engine-less /sync must 503")
        except urllib.error.HTTPError as e:
            assert e.code == 503
    finally:
        server.shutdown()


def test_cli_optimize_compacts_table(spark, tmp_path):
    import glob

    from export_oltp_to_olap_spark.cli import main

    path = str(tmp_path / "t")
    spark.range(0, 1000).repartition(20).write.parquet(path)
    assert len(glob.glob(f"{path}/part-*.parquet")) == 20
    rc = main(["optimize", path, "--target-file-mb", "1024"], spark=spark)
    assert rc == 0
    assert len(glob.glob(f"{path}/part-*.parquet")) == 1
    assert spark.read.parquet(path).count() == 1000


def test_cli_export_corpus_writes_split_shards(spark, sf001, tmp_path):
    import glob
    import json as _json

    from export_oltp_to_olap_spark.cli import main
    from export_oltp_to_olap_spark.plans.curation import curated_corpus
    from export_oltp_to_olap_spark.sources.parquet import load_tables

    out = str(tmp_path / "corpus")
    rc = main(["export-corpus", "--source-dir", sf001, "--out-dir", out, "--shards", "2"], spark=spark)
    assert rc == 0

    docs = load_tables(spark, sf001, ("documents",))["documents"]
    want = {
        (r["doc_id"], r["split"]) for r in curated_corpus(docs).collect()
    }
    got_rows = spark.read.parquet(out).collect()
    got = {(r["doc_id"], r["split"]) for r in got_rows}
    assert got == want and len(got_rows) == len(want)
    # hive layout: split=*/shard=* directories exist for every split seen
    for s in {s for _, s in want}:
        assert glob.glob(f"{out}/split={s}/shard=*"), s


def test_cli_eval_hashes_persist_then_reuse(spark, sf001, tmp_path):
    """The compute-once/reuse-per-batch eval-gram contract, driven
    entirely from the CLI: `eval-hashes` persists the standing artifact,
    `export-corpus --eval-hashes` consumes it, and the exported corpus
    equals the in-call decontaminated face (VERDICT r6 item 5)."""
    import json as _json

    import numpy as np

    from export_oltp_to_olap_spark.cli import main
    from export_oltp_to_olap_spark.operators.decontam import (
        eval_gram_hashes,
        load_eval_hashes,
    )
    from export_oltp_to_olap_spark.plans.curation import (
        curated_corpus_decontaminated,
        fixture_eval_docs,
    )
    from export_oltp_to_olap_spark.sources.parquet import load_tables

    art = str(tmp_path / "eval_hashes.parquet")
    rc = main(["eval-hashes", "--source-dir", sf001, "--out", art], spark=spark)
    assert rc == 0

    docs = load_tables(spark, sf001, ("documents",))["documents"]
    assert np.array_equal(
        load_eval_hashes(art), eval_gram_hashes(fixture_eval_docs(docs))
    )

    out = str(tmp_path / "corpus")
    rc = main(
        ["export-corpus", "--source-dir", sf001, "--out-dir", out,
         "--shards", "2", "--eval-hashes", art],
        spark=spark,
    )
    assert rc == 0
    got = {(r["doc_id"], r["split"]) for r in spark.read.parquet(out).collect()}
    want = {
        (r["doc_id"], r["split"])
        for r in curated_corpus_decontaminated(docs).collect()
    }
    assert got == want


def test_cli_eval_hashes_bloom_artifact(spark, sf001, tmp_path):
    """`eval-hashes --bloom-out` persists the Bloom bitmap next to the
    hash array; the loaded artifact drives contamination_hits_bloom to
    the same rows as an inline build."""
    import numpy as np

    from export_oltp_to_olap_spark.cli import main
    from export_oltp_to_olap_spark.operators import decontam
    from export_oltp_to_olap_spark.sources.parquet import load_tables

    art = str(tmp_path / "eval_hashes.parquet")
    bart = str(tmp_path / "eval_bloom.parquet")
    rc = main(
        ["eval-hashes", "--source-dir", sf001, "--out", art, "--bloom-out", bart],
        spark=spark,
    )
    assert rc == 0
    triple = decontam.load_eval_bloom(bart)
    bm, m_bits, k = triple
    assert m_bits == decontam.BLOOM_M_BITS and k == decontam.BLOOM_K
    docs = load_tables(spark, sf001, ("documents",))["documents"]
    train, eval_docs = decontam.train_eval_split(docs)
    assert np.array_equal(bm, decontam.eval_gram_bloom(eval_docs))
    # the triple form carries its own geometry — the recommended reuse
    reused = decontam.contamination_hits_bloom(
        train, eval_docs, bloom=triple
    ).collect()
    inline = decontam.contamination_hits_bloom(train, eval_docs).collect()
    assert [tuple(r) for r in reused] == [tuple(r) for r in inline]
    # a raw array cannot carry its build-time k — rejected outright, not
    # silently probed with the caller's (possibly mismatched) geometry
    import pytest as _pytest

    with _pytest.raises(TypeError, match="triple"):
        decontam.contamination_hits_bloom(
            train, eval_docs, bloom=bm, m_bits=decontam.BLOOM_M_BITS * 4
        )


def test_cli_strip_spans_both_modes(spark, sf001, tmp_path, capsys):
    """`strip-spans` persists the rewrite faces: dup mode equals the
    span-dedup API face, decontam mode the surgical-decontamination
    face, and the printed summary carries real removal totals."""
    import json as _json

    from export_oltp_to_olap_spark.cli import main
    from export_oltp_to_olap_spark.operators import decontam, substring
    from export_oltp_to_olap_spark.sources.parquet import load_tables

    docs = load_tables(spark, sf001, ("documents",))["documents"]
    out_dup = str(tmp_path / "dup")
    rc = main(
        ["strip-spans", "--source-dir", sf001, "--out", out_dup], spark=spark
    )
    assert rc == 0
    line = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["mode"] == "dup" and line["n"] == substring.FIXTURE_SPAN_N
    got = {tuple(r) for r in spark.read.parquet(out_dup).collect()}
    want = {tuple(r) for r in substring.strip_duplicated_spans(docs).collect()}
    assert got == want
    assert line["removed_tokens"] > 0  # the fixture has real dup families

    out_dec = str(tmp_path / "dec")
    rc = main(
        ["strip-spans", "--source-dir", sf001, "--out", out_dec, "--mode", "decontam"],
        spark=spark,
    )
    assert rc == 0
    got = {tuple(r) for r in spark.read.parquet(out_dec).collect()}
    want = {
        tuple(r) for r in decontam.decontaminated_strip_rewrite(docs).collect()
    }
    assert got == want


def test_cli_strip_spans_rejects_eval_dir_in_dup_mode(spark, sf001, tmp_path, capsys):
    """--eval-dir with --mode dup (the default) follows the CLI
    convention (stderr + rc 2) instead of silently ignoring the
    benchmark set (ADVICE r8)."""
    from export_oltp_to_olap_spark.cli import main

    rc = main(
        [
            "strip-spans",
            "--source-dir",
            sf001,
            "--out",
            str(tmp_path / "dup"),
            "--eval-dir",
            f"{sf001}/documents.parquet",
        ],
        spark=spark,
    )
    assert rc == 2
    err = capsys.readouterr().err
    assert "--mode decontam" in err


def test_cli_strip_spans_guard_covers_explicit_dup_mode(spark, sf001, tmp_path, capsys):
    """The guard must fire on the full --source-dir/--eval-dir/--mode dup
    combination (mode spelled explicitly, not defaulted) and must fail
    BEFORE writing anything to --out (VERDICT r9 item 5b)."""
    from export_oltp_to_olap_spark.cli import main

    out = tmp_path / "dup_explicit"
    rc = main(
        [
            "strip-spans",
            "--source-dir",
            sf001,
            "--out",
            str(out),
            "--mode",
            "dup",
            "--eval-dir",
            f"{sf001}/documents.parquet",
        ],
        spark=spark,
    )
    assert rc == 2
    assert "--mode decontam" in capsys.readouterr().err
    assert not out.exists(), "guard must reject before any output write"


def test_cli_eval_hashes_rejects_non_power_of_two_m_bits(spark, sf001, tmp_path, capsys):
    """Invalid --bloom-m-bits follows the CLI convention (stderr + rc 2),
    not an uncaught ValueError traceback from eval_gram_bloom (ADVICE r7)."""
    from export_oltp_to_olap_spark.cli import main

    rc = main(
        [
            "eval-hashes",
            "--source-dir",
            sf001,
            "--out",
            str(tmp_path / "h.parquet"),
            "--bloom-out",
            str(tmp_path / "b.parquet"),
            "--bloom-m-bits",
            "1000",
        ],
        spark=spark,
    )
    assert rc == 2
    assert "power of two" in capsys.readouterr().err


def test_cli_fingerprints(spark, sf001, tmp_path):
    """`fingerprints` writes the per-doc set; `--report` the clone
    report — both equal to the API faces."""
    from export_oltp_to_olap_spark.cli import main
    from export_oltp_to_olap_spark.operators import winnow
    from export_oltp_to_olap_spark.sources.parquet import load_tables

    docs = load_tables(spark, sf001, ("documents",))["documents"]
    out = str(tmp_path / "fps")
    rc = main(["fingerprints", "--source-dir", sf001, "--out", out], spark=spark)
    assert rc == 0
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    want = {tuple(r) for r in winnow.winnowing_fingerprints(docs).collect()}
    assert got == want

    rep = str(tmp_path / "rep")
    rc = main(
        ["fingerprints", "--source-dir", sf001, "--out", rep, "--report"],
        spark=spark,
    )
    assert rc == 0
    got = {tuple(r) for r in spark.read.parquet(rep).collect()}
    want = {tuple(r) for r in winnow.fingerprint_report(docs).collect()}
    assert got == want


def test_cli_curate_ledger_init_and_chained_applies(spark, tmp_path, capsys):
    """`curate-ledger-init`, then two chained `curate-ledger-apply`
    batches (deletes, re-texts, a verbatim copy of a larger id and an
    insert): each batch's ``curated.parquet`` equals `curated_corpus`
    over the accumulated corpus.  The init's sets table is the keepers'
    shingle sets, and ``--out`` equal to ``--ledger`` exits 2."""
    from export_oltp_to_olap_spark.operators.neardup import ngram_shingle_sets
    from export_oltp_to_olap_spark.plans.curation import curated_corpus

    docs = spark.read.parquet(os.path.join(SRC, "documents.parquet")).select(
        "doc_id", "text"
    )
    corpus = str(tmp_path / "corpus.parquet")
    docs.write.parquet(corpus)
    live = {r.doc_id: r.text for r in docs.collect()}
    ids = sorted(live)

    ledger = str(tmp_path / "ledger_0")
    assert main(["curate-ledger-init", "--corpus", corpus, "--out", ledger], spark=spark) == 0
    keepers = spark.read.parquet(os.path.join(ledger, "keepers.parquet"))
    want_sets = {
        (r.doc_id, tuple(sorted(r.shs)), r.n_sh)
        for r in ngram_shingle_sets(keepers.select("doc_id", "text")).collect()
    }
    got_sets = {
        (r.doc_id, tuple(sorted(r.shs)), r.n_sh)
        for r in spark.read.parquet(os.path.join(ledger, "sets.parquet")).collect()
    }
    assert got_sets == want_sets and want_sets

    for i, (dmod, cmod) in enumerate([(11, 7), (13, 5)]):
        deletes = [d for d in ids if d % dmod == 0 and d in live]
        upserts = {
            d: live[d] + f" cli edit {i}"
            for d in ids
            if d % cmod == 0 and d % dmod and d in live
        }
        donor, victim = ids[10 * i + 4], ids[10 * i + 3]
        if donor in live and victim in live and victim not in deletes:
            upserts[victim] = live[donor]
        upserts[ids[-1] + 1 + i] = live[ids[20 + i]] + f" cli insert {i}"
        batch = str(tmp_path / f"batch_{i}.json")
        events = [{"doc_id": d, "op": "delete", "text": None} for d in deletes] + [
            {"doc_id": d, "op": "upsert", "text": t} for d, t in upserts.items()
        ]
        with open(batch, "w") as f:
            f.writelines(json.dumps(e) + "\n" for e in events)
        for d in deletes:
            live.pop(d)
        live.update(upserts)

        nxt = str(tmp_path / f"ledger_{i + 1}")
        rc = main(
            ["curate-ledger-apply", "--ledger", ledger, "--batch", batch, "--out", nxt],
            spark=spark,
        )
        assert rc == 0
        acc = spark.createDataFrame(sorted(live.items()), "doc_id long, text string")
        want = {
            tuple(r)
            for r in curated_corpus(acc).select("doc_id", "quality", "split").collect()
        }
        got = {
            tuple(r)
            for r in spark.read.parquet(os.path.join(nxt, "curated.parquet")).collect()
        }
        assert got == want and want, f"batch {i}"
        ledger = nxt

    capsys.readouterr()
    rc = main(
        ["curate-ledger-apply", "--ledger", ledger, "--batch", batch, "--out", ledger],
        spark=spark,
    )
    assert rc == 2
    assert "--out must differ from --ledger" in capsys.readouterr().err
