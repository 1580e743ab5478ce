"""Winnowing fingerprints — the MOSS guarantees, pinned.

What the algorithm promises (Schleimer et al. 2003) and what these
tests hold it to: any shared passage of at least ``w + k - 1`` tokens
yields at least one IDENTICAL fingerprint hash in both documents (the
detection guarantee), selected density sits near ``2/(w+1)`` (the
efficiency claim), position-shifting a passage does not break matching
(position-robustness — the reason winnowing beats whole-doc hashing for
clone detection), and short documents still fingerprint via the
global-min fallback.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from export_oltp_to_olap_spark.operators import winnow
from export_oltp_to_olap_spark.operators.diff import DELTA_CUT_FRACTION

K, W = winnow.FINGERPRINT_K, winnow.FINGERPRINT_W
GUARANTEE = W + K - 1  # tokens: any shared run this long must match


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


PASSAGE = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens = GUARANTEE


def test_planted_clone_shares_a_fingerprint(spark):
    """The detection guarantee: a GUARANTEE-token passage embedded in two
    otherwise-different documents must produce a common fingerprint hash,
    wherever it sits in each document."""
    assert len(PASSAGE.split()) == GUARANTEE
    docs = _docs(
        spark,
        [
            (1, f"one two three {PASSAGE} four five six"),
            (2, f"seven eight nine ten eleven {PASSAGE}"),
            (3, "totally unrelated words about something else entirely here"),
        ],
    )
    fps = winnow.winnowing_fingerprints(docs).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp_hash)
    assert by_doc[1] & by_doc[2], "planted clone produced no common fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])


def test_report_clone_signal(spark):
    docs = _docs(
        spark,
        [
            (1, f"one two three {PASSAGE} four five six"),
            (2, f"seven eight nine ten eleven {PASSAGE}"),
            (3, "totally unrelated words about something else entirely here"),
        ],
    )
    rows = {r.doc_id: r for r in winnow.fingerprint_report(docs).collect()}
    assert rows[1].shared_docs == 1 and rows[2].shared_docs == 1
    assert rows[3].shared_docs == 0
    for r in rows.values():
        assert 0 < r.density <= 1.0


BOILERPLATE = (
    "copyright acme corporation all rights reserved redistribution "
    "permitted under license terms apply"
)  # 14 tokens — guaranteed to fingerprint in every carrier doc


def _boilerplate_corpus(spark, m):
    """m docs = shared boilerplate header + a unique tail each, plus one
    genuine clone pair planted on PASSAGE (non-boilerplate evidence)."""
    rows = [
        (i, f"{BOILERPLATE} unique tail w{i}a w{i}b w{i}c w{i}d w{i}e")
        for i in range(1, m + 1)
    ]
    rows.append((m + 1, f"fresh opening words {PASSAGE} closing words here"))
    rows.append((m + 2, f"other intro tokens {PASSAGE} different ending now"))
    return _docs(spark, rows)


def test_clone_signal_df_cap_drops_boilerplate_only_pairs(spark):
    """Hashes hotter than max_hash_df leave the clone join: docs related
    ONLY through boilerplate report shared_docs=0 with capped_hashes>0,
    while the genuine clone pair (passage df=2 ≤ cap) still matches —
    and the uncapped face confirms the boilerplate WAS the only link."""
    m = 8
    docs = _boilerplate_corpus(spark, m)
    capped = {
        r.doc_id: r for r in winnow.fingerprint_report(docs, max_hash_df=4).collect()
    }
    for i in range(1, m + 1):
        assert capped[i].shared_docs == 0, capped[i]
        assert capped[i].capped_hashes > 0, capped[i]
    assert capped[m + 1].shared_docs == 1 and capped[m + 2].shared_docs == 1
    assert capped[m + 1].capped_hashes == 0
    uncapped = {
        r.doc_id: r
        for r in winnow.fingerprint_report(docs, max_hash_df=m + 2).collect()
    }
    for i in range(1, m + 1):
        assert uncapped[i].shared_docs == m - 1  # the boilerplate link
        assert uncapped[i].capped_hashes == 0


def test_default_cap_is_invisible_on_fixture(spark, sf001):
    """CLONE_SIGNAL_MAX_DF (1000) must not touch the fixture corpus:
    capped_hashes = 0 everywhere (max fixture df is single-digit), so
    the registered oracle face is unchanged by the cap machinery."""
    docs = spark.read.parquet(f"{sf001}/documents.parquet")
    rep = winnow.fingerprint_report(docs)
    assert rep.agg(F.max("capped_hashes")).collect()[0][0] == 0


def test_density_near_expectation(spark, sf001):
    """Expected density is 2/(w+1); hold the corpus-wide mean to a loose
     2x band (per-doc variance is high on short synthetic docs)."""
    docs = spark.read.parquet(f"{sf001}/documents.parquet")
    rep = winnow.fingerprint_report(docs)
    agg = rep.agg(
        (F.sum("n_fps") / F.sum("n_grams")).alias("mean_density")
    ).collect()[0]
    expected = 2.0 / (W + 1)
    assert expected / 2 <= agg.mean_density <= expected * 2, agg.mean_density


def test_short_doc_global_min_fallback(spark):
    """k..k+w-2 tokens → at least one gram but no full window: exactly
    one fingerprint (the global min)."""
    docs = _docs(spark, [(1, "just four tiny words"), (2, "one two")])
    fps = winnow.winnowing_fingerprints(docs).collect()
    assert len([r for r in fps if r.doc_id == 1]) == 1
    assert not [r for r in fps if r.doc_id == 2]  # < k tokens: no gram


def test_position_shift_does_not_change_passage_hashes(spark):
    """Moving the passage changes fp positions, never the matching
    hashes — the property whole-document fingerprints lack."""
    base = f"{PASSAGE} trailing words here"
    shifted = f"some leading filler words {PASSAGE} trailing words here"
    docs = _docs(spark, [(1, base), (2, shifted)])
    fps = winnow.winnowing_fingerprints(docs).collect()
    h1 = {r.fp_hash for r in fps if r.doc_id == 1}
    h2 = {r.fp_hash for r in fps if r.doc_id == 2}
    assert h1 & h2


def test_delta_report_equals_rebuild_restricted(spark, sf001):
    """Incremental ≡ rebuild: the delta face over (delta docs, standing
    fingerprints) must equal the full-rebuild report restricted to the
    delta ids."""
    docs = spark.read.parquet(f"{sf001}/documents.parquet")
    cut = docs.agg(
        F.floor(F.lit(DELTA_CUT_FRACTION) * F.max("doc_id"))
    ).collect()[0][0]
    delta = winnow.fingerprint_delta_fixture(docs).collect()
    full = [
        r
        for r in winnow.fingerprint_report(docs).collect()
        if r.doc_id > cut
    ]
    assert [tuple(r) for r in delta] == [tuple(r) for r in full]


def test_delta_probes_persisted_standing_table(spark, sf001, tmp_path):
    """The standing fingerprint table round-trips through parquet — the
    production persist-once/probe-per-batch pattern."""
    docs = spark.read.parquet(f"{sf001}/documents.parquet")
    cut = docs.agg(
        F.floor(F.lit(DELTA_CUT_FRACTION) * F.max("doc_id"))
    ).collect()[0][0]
    old = docs.where(F.col("doc_id") <= cut)
    new = docs.where(F.col("doc_id") > cut)
    path = str(tmp_path / "standing_fph")
    winnow.standing_fingerprints(old).write.parquet(path)
    reloaded = spark.read.parquet(path)
    got = winnow.fingerprint_delta_report(new, reloaded).collect()
    want = winnow.fingerprint_delta_report(
        new, winnow.standing_fingerprints(old)
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_array_formulation_equals_window_formulation(spark, sf001):
    """The stateless array expression must select bit-identically to the
    window-function batch pass over the whole fixture corpus."""
    docs = spark.read.parquet(f"{sf001}/documents.parquet")
    batch = {tuple(r) for r in winnow.winnowing_fingerprints(docs).collect()}
    arr = {tuple(r) for r in winnow.streaming_fingerprints(docs).collect()}
    assert arr == batch


def test_streaming_fingerprints_stream_equals_batch(spark, tmp_path):
    """Drive the stateless face as an actual stream (file feed,
    availableNow): emitted fingerprints ≡ the batch operator's."""
    import json as _json

    from pyspark.sql import types as T

    feed = tmp_path / "docs"
    feed.mkdir()
    rows = [
        (1, f"one two three {PASSAGE} four five six"),
        (2, f"seven eight nine ten eleven {PASSAGE}"),
        (3, "tiny doc here"),
    ]
    for i, (did, text) in enumerate(rows):
        with open(feed / f"b{i}.json", "w") as f:
            f.write(_json.dumps({"doc_id": did, "text": text}) + "\n")
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(feed))
    )
    emitted = []

    def sink(batch_df, _):
        emitted.extend(tuple(r) for r in batch_df.collect())

    q = (
        winnow.streaming_fingerprints(stream)
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    batch = {
        tuple(r)
        for r in winnow.winnowing_fingerprints(
            _docs(spark, rows)
        ).collect()
    }
    assert set(emitted) == batch and len(emitted) == len(batch)
