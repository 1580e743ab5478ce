"""Round-14 contracts.

VERDICT r13 item 5: the steady-state delete/upsert maintenance faces
must time their DECLARED plan — the persisted shingle-set/band-index
tables (`neardup_standing_index`) threaded through the retract and
delta legs so nothing re-shingles the surviving corpus.  The tests pin
the load-bearing claim: persisted-artifact path ≡ in-call bootstrap
path ≡ (by the driver oracle) the full rebuild, plus the
`_band_index_candidates` / `_minhash_band_candidates` lockstep and the
promoted `neardup_clusters_delta` contract (ADVICE r13).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from export_oltp_to_olap_spark.operators import neardup
from export_oltp_to_olap_spark.operators.diff import DELTA_CUT_FRACTION, RETRACT_MOD
from export_oltp_to_olap_spark.sources.parquet import load_tables


def _docs(spark, sf_dir):
    return load_tables(spark, sf_dir, ("documents",))["documents"]


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_band_index_candidates_equivalent(spark, sf001):
    """The persisted-index candidate stage must emit exactly the pair
    set of the in-plan sibling it deliberately duplicates (the
    duplication keeps the minhash family's shared candidate stage
    untouched; this pin is the price — see `_band_index_candidates`)."""
    sets = neardup.doc_shingle_sets(_docs(spark, sf001))
    bands = neardup._minhash_bands(
        sets, neardup.MINHASH_N_HASHES, neardup.MINHASH_BAND_R
    )
    got = _rows(neardup._band_index_candidates(bands))
    want = _rows(
        neardup._minhash_band_candidates(
            sets, neardup.MINHASH_N_HASHES, neardup.MINHASH_BAND_R
        )
    )
    assert got == want and want


def test_retract_standing_signatures_equivalent(spark, sf001):
    """retract(persisted sets+bands) ≡ retract(in-call re-shingle) —
    with the in-call form already driver-hashed against the full
    rebuild over survivors, the persisted path inherits the rebuild
    equivalence transitively."""
    docs = _docs(spark, sf001)
    deleted = docs.select("doc_id").where(
        F.col("doc_id") % RETRACT_MOD == 0
    )
    labels = neardup.minhash_neardup_clusters(docs).localCheckpoint()
    sets, bands = neardup.neardup_standing_index(docs)
    in_call = _rows(neardup.neardup_clusters_retract(docs, deleted, labels))
    persisted = _rows(
        neardup.neardup_clusters_retract(
            docs, deleted, labels, standing_sets=sets, standing_bands=bands
        )
    )
    sets_only = _rows(
        neardup.neardup_clusters_retract(
            docs, deleted, labels, standing_sets=sets
        )
    )
    assert persisted == in_call and in_call
    assert sets_only == in_call


def test_delta_standing_signatures_equivalent(spark, sf001):
    """delta(persisted sets+bands) ≡ delta(in-call) — and the promoted
    contract check (`validate_contract=True`) accepts the map
    `neardup_clusters` produced."""
    docs = _docs(spark, sf001)
    cut = docs.agg(
        F.floor(
            F.lit(DELTA_CUT_FRACTION) * F.max("doc_id")
        ).alias("c")
    ).first()["c"]
    standing = docs.where(F.col("doc_id") <= cut)
    delta = docs.where(F.col("doc_id") > cut)
    labels = neardup.minhash_neardup_clusters(standing).localCheckpoint()
    sets, bands = neardup.neardup_standing_index(standing)
    in_call = _rows(
        neardup.neardup_clusters_delta(
            standing, delta, labels, validate_contract=True
        )
    )
    persisted = _rows(
        neardup.neardup_clusters_delta(
            standing,
            delta,
            labels,
            standing_sets=sets,
            standing_bands=bands,
        )
    )
    assert persisted == in_call and in_call


def test_delta_structural_independence_of_raw_corpus(spark, sf001):
    """With both persisted tables supplied, the pair probe provably
    never reads the raw standing corpus: corpus=None works (the
    `curated_delta` convention), and the output is unchanged."""
    docs = _docs(spark, sf001)
    delta = docs.where(F.col("doc_id") % 10 == 7)
    corpus = docs.where(F.col("doc_id") % 10 != 7)
    sets, bands = neardup.neardup_standing_index(corpus)
    got = _rows(
        neardup.minhash_lsh_neardup_delta(
            None, delta, corpus_sets=sets, corpus_bands=bands
        )
    )
    want = _rows(neardup.minhash_lsh_neardup_delta(corpus, delta))
    assert got == want and want
    with pytest.raises(ValueError, match="corpus_sets"):
        neardup.minhash_lsh_neardup_delta(None, delta)


def test_upsert_standing_signatures_equivalent(spark, sf001):
    """upsert(persisted sets+bands) ≡ upsert(in-call) — the composition
    whose [standing] bench variant now times the declared plan: only
    the changed docs' NEW text is shingled in the persisted path."""
    docs = _docs(spark, sf001)
    deleted = docs.select("doc_id").where(
        F.col("doc_id") % neardup.UPSERT_DEL_MOD == 0
    )
    changed = docs.where(
        (F.col("doc_id") % neardup.UPSERT_CHG_MOD == 0)
        & (F.col("doc_id") % neardup.UPSERT_DEL_MOD != 0)
    ).withColumn("text", F.concat(F.col("text"), F.lit(neardup.UPSERT_SUFFIX)))
    labels = neardup.minhash_neardup_clusters(docs).localCheckpoint()
    sets, bands = neardup.neardup_standing_index(docs)
    in_call = _rows(
        neardup.neardup_clusters_upsert(docs, labels, changed, deleted)
    )
    persisted = _rows(
        neardup.neardup_clusters_upsert(
            docs,
            labels,
            changed,
            deleted,
            standing_sets=sets,
            standing_bands=bands,
        )
    )
    assert persisted == in_call and in_call


def test_delta_validate_contract_rejects_non_min_canonicals(spark, sf0001):
    """The promoted contract (ADVICE r13): a standing map whose
    canonical is not its cluster's min id must be rejected up front
    when validation is requested, instead of silently mis-merging."""
    docs = _docs(spark, sf0001)
    delta = docs.where(F.col("doc_id") % 10 == 7)
    standing = docs.where(F.col("doc_id") % 10 != 7)
    labels = neardup.minhash_neardup_clusters(standing)
    # Corrupt the map: shift every canonical off its cluster's min id
    # (works even when the fixture's clusters are all singletons).
    bad = labels.withColumn("canonical_id", F.col("canonical_id") + 1)
    with pytest.raises(ValueError, match="cluster-min contract"):
        neardup.neardup_clusters_delta(
            standing, delta, bad, validate_contract=True
        )


# ---------------------------------------------------------------------------
# curated_retract — the delete-aware standing CURATED corpus (VERDICT
# r13 item 2): cut sweep ≡ rebuild-after-delete, planted keeper
# re-admission, and the oracle-rewrite pins.
# ---------------------------------------------------------------------------


def _curated_shape(df):
    return {tuple(r) for r in df.select("doc_id", "quality", "split").collect()}


@pytest.mark.parametrize("mod,label", [(2, "half"), (3, "third")])
def test_curated_retract_cut_sweep_equals_rebuild(spark, sf001, mod, label):
    """retract(delete doc_id % mod == 0) ≡ curated_corpus(survivors)
    at two cut depths beyond the registered fixture's 10% — the r13
    retract-ladder sweep convention applied one level up."""
    from export_oltp_to_olap_spark.plans import curation as C

    docs = _docs(spark, sf001).select("doc_id", "text")
    deleted = docs.select("doc_id").where(F.col("doc_id") % mod == 0)
    ledger = C.curation_standing_ledger(docs)
    got = _curated_shape(C.curated_retract(deleted, *ledger))
    want = _curated_shape(
        C.curated_corpus(docs.where(F.col("doc_id") % mod != 0))
    )
    assert got == want and want, label


def test_curated_retract_empty_delete_is_identity(spark, sf001):
    """The 0% cut: an empty tombstone batch must reproduce the standing
    curated corpus exactly."""
    from export_oltp_to_olap_spark.plans import curation as C

    docs = _docs(spark, sf001).select("doc_id", "text")
    deleted = docs.select("doc_id").where(F.lit(False))
    ledger = C.curation_standing_ledger(docs)
    got = _curated_shape(C.curated_retract(deleted, *ledger))
    want = _curated_shape(C.curated_corpus(docs))
    assert got == want and want


def _distinct_gated_texts(spark, sf_dir, n=3):
    """Deterministically pick n gate-passing fixture texts that are
    pairwise NON-near-dup (word-trigram jaccard < 0.5), so planted
    exact twins cannot be suppressed by a cross-group witness."""
    import re as _re

    from export_oltp_to_olap_spark.plans import curation as C

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    cands = [
        r["text"]
        for r in C._gated(docs).orderBy("doc_id").limit(40).collect()
    ]

    def shingles(t):
        toks = [w for w in _re.split(r"[^a-z0-9]+", t.lower()) if w]
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    picked, sets = [], []
    for t in cands:
        s = shingles(t)
        if not s:
            continue
        if all(
            len(s & o) / len(s | o) < 0.5 for o in sets
        ):
            picked.append(t)
            sets.append(s)
        if len(picked) == n:
            return picked
    raise AssertionError("fixture lacks 3 pairwise-distinct gated texts")


def test_curated_retract_planted_exact_keeper_readmission(spark, sf001):
    """The planted test the verdict demanded: delete exact-dedup
    KEEPERS whose twins survive — the twins must re-enter the curated
    corpus with the keeper's quality, and the whole result must equal
    the rebuild over survivors."""
    from export_oltp_to_olap_spark.plans import curation as C

    t0, t1, t2 = _distinct_gated_texts(spark, sf001)
    corpus = spark.createDataFrame(
        [(1, t0), (2, t0), (3, t1), (4, t1), (7, t1), (5, t2)],
        "doc_id long, text string",
    )
    # Delete both keepers (1, 3) and one mid twin (4): group t0 re-elects
    # 2, group t1 must skip the deleted 4 and re-elect 7.
    deleted = spark.createDataFrame([(1,), (3,), (4,)], "doc_id long")
    ledger = C.curation_standing_ledger(corpus)
    got = _curated_shape(C.curated_retract(deleted, *ledger))
    ids = {r[0] for r in got}
    assert 2 in ids and 7 in ids and 5 in ids and 4 not in ids
    want = _curated_shape(
        C.curated_corpus(
            corpus.where(~F.col("doc_id").isin(1, 3, 4))
        )
    )
    assert got == want


def test_curated_retract_near_dup_witness_readmission(spark, sf001):
    """The fixture cut really exercises the near-dup half of the
    re-admission contract: docs absent from the FULL standing curated
    corpus (suppressed by a ≥0.7 witness) re-enter once every witness
    is deleted.  Pinned non-empty so fixture drift cannot silently
    turn the face into a pure anti-join check."""
    from export_oltp_to_olap_spark.plans import curation as C

    docs = _docs(spark, sf001).select("doc_id", "text")
    standing_kept = {
        r["doc_id"] for r in C.curated_corpus(docs).select("doc_id").collect()
    }
    got_ids = {r[0] for r in _curated_shape(C.curated_retract_fixture(docs))}
    readmitted = got_ids - standing_kept
    assert readmitted, (
        "the registered cut no longer re-admits any near-dup victim — "
        "re-plant the fixture"
    )


def test_retract_oracles_scan_only_survivors():
    """String-rewrite oracle pins (the r13 convention): past the
    survivors CTE itself, no bare raw-corpus scan may remain in either
    new retract oracle."""
    from export_oltp_to_olap_spark.plans import curation as C
    from export_oltp_to_olap_spark.plans import leakage as L

    body = C.CURATED_RETRACT_SQL.split("feats AS", 1)[1]
    assert "FROM documents" not in body
    body = C.CURATED_UPSERT_SQL.split("feats AS", 1)[1]
    assert "FROM documents" not in body
    body = L.LEAKAGE_SPLIT_RETRACT_SQL.split("toks AS", 1)[1]
    assert "FROM documents" not in body


def test_split_retract_unaffected_components_keep_split(spark, sf001):
    """The stability half of the cluster-keyed retract contract:
    members of components untouched by the delete batch keep BOTH
    their canonical and their split byte-stable; only delete-affected
    components may move."""
    from export_oltp_to_olap_spark.operators.sampling import assign_splits
    from export_oltp_to_olap_spark.plans import leakage as L

    docs = _docs(spark, sf001).select("doc_id", "text")
    standing = neardup.minhash_neardup_clusters(docs).localCheckpoint()
    before = {
        r["doc_id"]: (r["canonical_id"], r["split"])
        for r in assign_splits(
            standing.select("doc_id", "canonical_id"), "canonical_id"
        ).collect()
    }
    deleted = docs.select("doc_id").where(
        F.col("doc_id") % RETRACT_MOD == 0
    )
    affected = {
        r["canonical_id"]
        for r in standing.join(deleted, "doc_id")
        .select("canonical_id")
        .distinct()
        .collect()
    }
    moved = unaffected_changed = 0
    for r in L.leakage_safe_split_retract(docs, deleted, standing).collect():
        old = before[r["doc_id"]]
        if old != (r["canonical_id"], r["split"]):
            moved += 1
            if old[0] not in affected:
                unaffected_changed += 1
    assert unaffected_changed == 0
    assert moved > 0, "the cut never re-elects a canonical — re-plant"


# ---------------------------------------------------------------------------
# The cheap monoid/anti-join retract legs (VERDICT r13 item 6):
# subtract ≡ rebuild at a deeper cut than the registered fixture, plus
# planted zero-row cleanup.
# ---------------------------------------------------------------------------


def test_doc_length_retract_deep_cut_and_zero_cleanup(spark, sf001):
    from export_oltp_to_olap_spark.plans import text_queries as T

    docs = _docs(spark, sf001)
    standing = T._doc_length_counts(docs)
    deleted = docs.where(F.col("doc_id") % 2 == 0)
    got = _rows(T.doc_length_spectrum_retract(deleted, standing))
    want = _rows(T.doc_length_spectrum(docs.where(F.col("doc_id") % 2 != 0)))
    assert got == want and want
    # zero-row cleanup: delete EVERYTHING -> empty table, no zero rows
    assert T.doc_length_spectrum_retract(docs, standing).count() == 0


def test_boilerplate_retract_deep_cut_and_zero_cleanup(spark, sf001):
    from export_oltp_to_olap_spark.plans import text_queries as T

    docs = _docs(spark, sf001)
    sc, st = T._boilerplate_counts(docs)
    deleted = docs.where(F.col("doc_id") % 2 == 0)
    got = _rows(T.boilerplate_ngrams_retract(deleted, sc, st))
    want = _rows(T.boilerplate_ngrams(docs.where(F.col("doc_id") % 2 != 0)))
    assert got == want and want
    assert T.boilerplate_ngrams_retract(docs, sc, st).count() == 0


def test_pack_totals_retract_deep_cut_and_doc_keyed_cleanup(spark, sf001):
    """The cleanup key is the DOC count: a source whose surviving docs
    all have empty text keeps its zero-token row, exactly like the
    rebuild (planted on a synthetic frame)."""
    from export_oltp_to_olap_spark.operators import chunking as K

    docs = _docs(spark, sf001)
    state = K.pack_source_state(docs)
    deleted = docs.where(F.col("doc_id") % 2 == 0)
    got = _rows(K.pack_source_totals_retract(deleted, state))
    want = _rows(
        K.pack_source_state(docs.where(F.col("doc_id") % 2 != 0)).orderBy(
            "source"
        )
    )
    assert got == want and want
    # planted: source 'b' loses its only non-empty doc but keeps an
    # empty-text doc -> row stays with total 0; source 'c' loses its
    # last doc -> row leaves.
    frame = spark.createDataFrame(
        [
            (1, "a", "alpha beta gamma"),
            (2, "b", "delta words here"),
            (3, "b", ""),
            (4, "c", "omega"),
        ],
        "doc_id long, source string, text string",
    )
    dele = spark.createDataFrame([(2,), (4,)], "doc_id long")
    out = {
        (r["source"], r["n_docs"], r["total_tokens"])
        for r in K.pack_source_totals_retract(
            frame.join(dele, "doc_id"), K.pack_source_state(frame)
        ).collect()
    }
    assert out == {("a", 1, 3), ("b", 1, 0)}


def test_winnow_retract_deep_cut(spark, sf001):
    from export_oltp_to_olap_spark.operators import winnow as W

    docs = _docs(spark, sf001)
    standing = W.standing_fingerprints(docs)
    deleted = docs.select("doc_id").where(F.col("doc_id") % 2 == 0)
    got = _rows(W.winnow_fingerprints_retract(deleted, standing))
    want = _rows(
        W.standing_fingerprints(
            docs.where(F.col("doc_id") % 2 != 0)
        ).orderBy("doc_id", "fp_hash")
    )
    assert got == want and want


# ---------------------------------------------------------------------------
# Semantic decontamination at INGEST (VERDICT r13 item 3): the frozen
# eval probe index gates arriving train vectors — batch parity with the
# registered face, stream ≡ batch via the file-feed fixture, and the
# CLI round-trip of the persisted index.
# ---------------------------------------------------------------------------


def _semantic_split(spark, sf_dir):
    from export_oltp_to_olap_spark.operators import similarity as S

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    is_eval = (
        F.col("vec_id") % S.SEMANTIC_DECONTAM_EVAL_MOD
        == S.SEMANTIC_DECONTAM_EVAL_REMAINDER
    )
    return emb.where(~is_eval), emb.where(is_eval)


def test_semantic_decontam_gate_batch_parity(spark, sf0001):
    """The at-ingest gate under the frozen eval probe index reproduces
    the batch face exactly (after the documented at-least-once dedup):
    same pairs, same exact 6-dp cosines — and the probe asymmetry
    stays on the eval side (the stream side emits L plain keys)."""
    from export_oltp_to_olap_spark.operators import similarity as S

    train, eval_vecs = _semantic_split(spark, sf0001)
    probes, vecs = S.semantic_eval_index(eval_vecs)
    got = {
        tuple(r)
        for r in S.semantic_decontam_at_ingest(train, probes, vecs)
        .dropDuplicates(["train_id", "eval_id"])
        .collect()
    }
    want = {
        tuple(r)
        for r in S.semantic_decontam_pairs(train, eval_vecs).collect()
    }
    assert got == want and want, (len(got), len(want))


def test_semantic_decontam_gate_streams(spark, sf0001, tmp_path):
    """Stream ≡ batch for the semantic gate: one Arrow GEMM per arriving
    micro-batch + two stream-static broadcast joins are append-mode
    legal; the file-feed fixture replays the train vectors in three
    batches (the `test_fuzzy_decontam_gate_streams` convention on the
    embedding side)."""
    import json as _json
    import os as _os

    from pyspark.sql import types as T

    from export_oltp_to_olap_spark.operators import similarity as S

    train, eval_vecs = _semantic_split(spark, sf0001)
    probes, vecs = S.semantic_eval_index(eval_vecs)
    # freeze the static sides (production persists them as parquet)
    probes = spark.createDataFrame(probes.collect(), probes.schema)
    vecs = spark.createDataFrame(vecs.collect(), vecs.schema)
    rows = train.select("vec_id", "embedding").collect()
    feed = tmp_path / "feed"
    feed.mkdir()
    chunks = [rows[:150], rows[150:300], rows[300:]]
    for i, chunk in enumerate(chunks):
        with open(feed / f"b{i}.json", "w") as f:
            for r in chunk:
                f.write(
                    _json.dumps(
                        {"vec_id": r["vec_id"], "embedding": list(r["embedding"])}
                    )
                    + "\n"
                )
        _os.utime(feed / f"b{i}.json", (1_700_000_000 + i, 1_700_000_000 + i))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    stream = spark.readStream.schema(schema).json(str(feed))
    out = []
    q = (
        S.semantic_decontam_at_ingest(stream, probes, vecs)
        .writeStream.outputMode("append")
        .foreachBatch(lambda b, _: out.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r["train_id"], r["eval_id"]): tuple(r) for r in out}
    want = {
        (r["train_id"], r["eval_id"]): tuple(r)
        for r in S.semantic_decontam_pairs(train, eval_vecs).collect()
    }
    assert got == want and want


def test_semantic_index_cli_roundtrip(spark, sf0001, tmp_path):
    """`cli.py semantic-index` persists the frozen probe/vector tables;
    reloading them drives the gate to the same pair set."""
    import argparse

    from export_oltp_to_olap_spark import cli
    from export_oltp_to_olap_spark.operators import similarity as S

    rc = cli.cmd_semantic_index(
        argparse.Namespace(eval_dir=None, source_dir=sf0001, out=str(tmp_path)),
        spark,
    )
    assert rc == 0
    probes = spark.read.parquet(str(tmp_path / "probes.parquet"))
    vecs = spark.read.parquet(str(tmp_path / "vecs.parquet"))
    train, eval_vecs = _semantic_split(spark, sf0001)
    got = {
        tuple(r)
        for r in S.semantic_decontam_at_ingest(train, probes, vecs)
        .dropDuplicates(["train_id", "eval_id"])
        .collect()
    }
    want = {
        tuple(r)
        for r in S.semantic_decontam_pairs(train, eval_vecs).collect()
    }
    assert got == want and want


# ---------------------------------------------------------------------------
# curated_upsert — full CDC maintenance of the curated corpus
# ---------------------------------------------------------------------------


def _upserted_corpus(docs, deleted_ids, changed):
    """The rebuild's effective corpus: (docs − deleted − changed ids)
    ∪ changed — the claim curated_upsert is checked against."""
    drop = deleted_ids.unionByName(changed.select("doc_id")).distinct()
    return docs.join(drop, "doc_id", "left_anti").unionByName(changed)


@pytest.mark.parametrize("dmod,cmod", [(3, 4), (2, 5)])
def test_curated_upsert_cut_sweep_equals_rebuild(spark, sf001, dmod, cmod):
    """Deep delete+change batches (a third/quarter and half/fifth of
    the corpus at once) ≡ the full curation rebuild over the upserted
    corpus — the retract-ladder sweep convention for the CDC face."""
    from export_oltp_to_olap_spark.plans import curation as C

    docs = _docs(spark, sf001).select("doc_id", "text")
    deleted = docs.select("doc_id").where(F.col("doc_id") % dmod == 0)
    changed = (
        docs.where(
            (F.col("doc_id") % cmod == 0) & (F.col("doc_id") % dmod != 0)
        )
        .select("doc_id", F.concat("text", F.lit(" zz0 zz1 zz2")).alias("text"))
    )
    ledger = C.curation_standing_ledger(docs)
    got = _curated_shape(C.curated_upsert(deleted, changed, *ledger))
    want = _curated_shape(
        C.curated_corpus(_upserted_corpus(docs, deleted, changed))
    )
    assert got == want and want


def test_curated_upsert_planted_challenge_loser_and_reverse_witness(
    spark, sf001
):
    """The three upsert-only branches, each planted explicitly:

    * CHALLENGE — a smaller batch id re-writes to a standing keeper's
      exact text and takes the slot (the keeper demotes);
    * batch LOSER — a larger batch id re-writes to a text whose keeper
      is smaller and silently loses;
    * REVERSE witness — a smaller batch id's new text near-dups a
      LARGER standing id, which must drop (the pair direction the
      append-only delta can never emit).
    """
    from export_oltp_to_olap_spark.plans import curation as C

    t0, t1, t2, t3, t4 = _distinct_gated_texts(spark, sf001, n=5)
    corpus = spark.createDataFrame(
        [(4, t0), (8, t0), (6, t1), (9, t2), (2, t3), (7, t4)],
        "doc_id long, text string",
    )
    changed = spark.createDataFrame(
        [
            (3, t1),                    # insert: challenges keeper 6
            (7, t0),                    # rewrite: loses to keeper 4
            (2, t2 + " zz0 zz1 zz2"),   # rewrite: witnesses 9 from below
        ],
        "doc_id long, text string",
    )
    deleted = spark.createDataFrame([], "doc_id long")
    ledger = C.curation_standing_ledger(corpus)
    got = _curated_shape(C.curated_upsert(deleted, changed, *ledger))
    ids = {r[0] for r in got}
    assert 3 in ids and 6 not in ids, "challenge: 3 must take t1 from 6"
    assert 4 in ids and 7 not in ids, "loser: 7 must lose t0 to keeper 4"
    assert 2 in ids and 9 not in ids, (
        "reverse witness: 2's near-copy must drop standing 9"
    )
    want = _curated_shape(
        C.curated_corpus(_upserted_corpus(corpus, deleted, changed))
    )
    assert got == want


def test_curated_upsert_persisted_sets_and_succession_chain(spark, sf001):
    """The persisted-signatures path (standing shingle sets re-keyed
    through the composed same-text successions, nothing re-shingled
    but the batch) ≡ the in-call path ≡ the rebuild — on a corpus that
    exercises the two-level chain: keeper 1 dies, loser 9 re-elects
    (succ_r 1→9), then batch id 5 challenges the re-admitted 9
    (succ_c 9→5), so keeper 1's persisted set row must re-key straight
    to 5."""
    from export_oltp_to_olap_spark.operators.neardup import ngram_shingle_sets
    from export_oltp_to_olap_spark.plans import curation as C

    t0, t1 = _distinct_gated_texts(spark, sf001, n=2)
    corpus = spark.createDataFrame(
        [(1, t0), (9, t0), (6, t1)], "doc_id long, text string"
    )
    deleted = spark.createDataFrame([(1,)], "doc_id long")
    changed = spark.createDataFrame([(5, t0)], "doc_id long, text string")
    keepers, losers, pairs = C.curation_standing_ledger(corpus)
    sets = ngram_shingle_sets(keepers.select("doc_id", "text"))
    in_call = _curated_shape(
        C.curated_upsert(deleted, changed, keepers, losers, pairs)
    )
    persisted = _curated_shape(
        C.curated_upsert(
            deleted, changed, keepers, losers, pairs, standing_sets=sets
        )
    )
    want = _curated_shape(
        C.curated_corpus(_upserted_corpus(corpus, deleted, changed))
    )
    assert in_call == persisted == want and want
    kept_ids = {r[0] for r in want}
    assert 5 in kept_ids and 9 not in kept_ids and 1 not in kept_ids, (
        "the chained challenge must leave 5 holding t0"
    )


def test_curated_upsert_empty_batch_is_identity(spark, sf001):
    """An empty CDC batch must reproduce the standing curated corpus."""
    from export_oltp_to_olap_spark.plans import curation as C

    docs = _docs(spark, sf001).select("doc_id", "text")
    deleted = spark.createDataFrame([], "doc_id long")
    changed = spark.createDataFrame([], "doc_id long, text string")
    ledger = C.curation_standing_ledger(docs)
    got = _curated_shape(C.curated_upsert(deleted, changed, *ledger))
    want = _curated_shape(C.curated_corpus(docs))
    assert got == want and want


@pytest.mark.slow
def test_curated_upsert_seeded_random_chains(spark, sf0001):
    """Randomized delete+rewrite batches (seeded, so reproducible) ≡
    the rebuild — the hypothesis-chain convention for the CDC face,
    sized to the tiny fixture."""
    import random

    from export_oltp_to_olap_spark.plans import curation as C

    docs = _docs(spark, sf0001).select("doc_id", "text")
    ids = [r[0] for r in docs.select("doc_id").collect()]
    for seed in (20260, 20261):
        rng = random.Random(seed)
        dset = set(rng.sample(ids, len(ids) // 8))
        cpool = [i for i in ids if i not in dset]
        cset = set(rng.sample(cpool, len(cpool) // 8))
        suffix = " " + " ".join(
            rng.choice(["alpha", "beta", "gamma", "delta"]) for _ in range(3)
        )
        deleted = docs.select("doc_id").where(
            F.col("doc_id").isin(*dset) if dset else F.lit(False)
        )
        changed = (
            docs.where(F.col("doc_id").isin(*cset))
            .select("doc_id", F.concat("text", F.lit(suffix)).alias("text"))
        )
        ledger = C.curation_standing_ledger(docs)
        got = _curated_shape(C.curated_upsert(deleted, changed, *ledger))
        want = _curated_shape(
            C.curated_corpus(_upserted_corpus(docs, deleted, changed))
        )
        assert got == want and want, f"seed {seed}"


def test_curated_upsert_fixture_plants_all_branches(spark, sf001):
    """The registered fixture's copy classes must actually fire at
    fixture scale: at least one verbatim neighbor copy CHALLENGES a
    standing keeper (the copier's id replaces the neighbor's in the
    output) and at least one suffixed copy drops a LARGER standing id
    (the reverse-direction witness).  Guards fixture drift — without
    these the face degrades to the append-only delta's coverage."""
    from export_oltp_to_olap_spark.operators.neardup import (
        UPSERT_CHG_MOD,
        UPSERT_DEL_MOD,
    )
    from export_oltp_to_olap_spark.plans import curation as C

    docs = _docs(spark, sf001).select("doc_id", "text")
    got_ids = {r[0] for r in C.curated_upsert_fixture(docs).collect()}
    standing_ids = {
        r[0] for r in C.curated_corpus(docs).select("doc_id").collect()
    }
    is_twin = lambda i: i % C.UPSERT_COPY_MOD == 1  # noqa: E731
    survivors = lambda i: i % UPSERT_DEL_MOD != 0  # noqa: E731
    # a twin copier present while its (standing-kept) neighbor is gone
    untouched = lambda i: (  # noqa: E731
        survivors(i) and i % UPSERT_CHG_MOD != 0 and i % C.UPSERT_COPY_MOD not in (1, 15)
    )
    challenged = [
        i
        for i in got_ids
        if is_twin(i)
        and survivors(i)
        and untouched(i + 1)
        and (i + 1) in standing_ids
        and (i + 1) not in got_ids
    ]
    assert challenged, "no verbatim copy challenged its neighbor — re-plant"
    # a near copier present while its larger standing neighbor dropped
    nearcop = [
        i
        for i in got_ids
        if i % C.UPSERT_COPY_MOD == 15
        and survivors(i)
        and untouched(i + 1)
        and (i + 1) in standing_ids
        and (i + 1) not in got_ids
    ]
    assert nearcop, "no suffixed copy witness-dropped its neighbor — re-plant"


def _ledger_shape(keepers, losers, pairs):
    return (
        {tuple(r) for r in keepers.select("doc_id", "text").collect()},
        {tuple(r) for r in losers.select("doc_id", "text").collect()},
        {tuple(r) for r in pairs.select("doc_a", "doc_b", "jaccard").collect()},
    )


@pytest.mark.slow
def test_curated_upsert_three_batch_evolving_state(spark, sf0001):
    """Ledger threading (`curated_upsert_ledger`): three sequential CDC
    batches — deletes, rewrites and inserts — each fed the PREVIOUS
    batch's ledger.  After every batch the curated output must equal
    the rebuild over the accumulated corpus, and the final ledger must
    equal a fresh `curation_standing_ledger` over it (keepers, losers
    AND verified pairs) — the `neardup_clusters_upsert` evolving-state
    convention one level up."""
    from export_oltp_to_olap_spark.plans import curation as C

    from export_oltp_to_olap_spark.operators.neardup import ngram_shingle_sets

    docs = _docs(spark, sf0001).select("doc_id", "text").localCheckpoint()
    max_id = docs.agg(F.max("doc_id")).first()[0]
    live = docs
    keepers, losers, pairs = C.curation_standing_ledger(docs)
    sets = ngram_shingle_sets(keepers.select("doc_id", "text"))
    batches = [
        # (delete mod, change mod, insert count)
        (11, 7, 2),
        (13, 5, 3),
        (9, 8, 0),
    ]
    for i, (dmod, cmod, n_ins) in enumerate(batches):
        deleted = live.select("doc_id").where(F.col("doc_id") % dmod == 0)
        rewrites = (
            live.where(
                (F.col("doc_id") % cmod == 0) & (F.col("doc_id") % dmod != 0)
            )
            .select(
                "doc_id",
                F.concat("text", F.lit(f" batch{i} zz{i}")).alias("text"),
            )
        )
        donors = [
            r["text"]
            for r in live.orderBy("doc_id").limit(n_ins).collect()
        ]
        inserts = (
            spark.createDataFrame(
                [
                    (max_id + 100 * (i + 1) + k, t + f" ins{i}")
                    for k, t in enumerate(donors)
                ],
                "doc_id long, text string",
            )
            if donors
            else spark.createDataFrame([], "doc_id long, text string")
        )
        changed = rewrites.unionByName(inserts)
        keepers, losers, pairs, sets, out = C.curated_upsert_ledger(
            deleted, changed, keepers, losers, pairs, standing_sets=sets
        )
        keepers = keepers.localCheckpoint()
        losers = losers.localCheckpoint()
        pairs = pairs.localCheckpoint()
        sets = sets.localCheckpoint()
        live = (
            live.join(
                deleted.unionByName(changed.select("doc_id")).distinct(),
                "doc_id",
                "left_anti",
            )
            .unionByName(changed)
            .localCheckpoint()
        )
        got = {tuple(r) for r in out.collect()}
        want = _curated_shape(C.curated_corpus(live))
        assert got == want and want, f"batch {i} output diverged"
    fresh = C.curation_standing_ledger(live)
    assert _ledger_shape(keepers, losers, pairs) == _ledger_shape(*fresh), (
        "threaded ledger diverged from the fresh rebuild ledger"
    )
    got_sets = {
        (r["doc_id"], tuple(sorted(r["shs"]))) for r in sets.collect()
    }
    want_sets = {
        (r["doc_id"], tuple(sorted(r["shs"])))
        for r in ngram_shingle_sets(fresh[0].select("doc_id", "text")).collect()
    }
    assert got_sets == want_sets, (
        "forward shingle-set table diverged from the fresh build"
    )


@pytest.mark.slow
def test_streaming_cdc_maintains_curated_corpus(spark, sf0001, tmp_path):
    """A file-fed CDC stream of upserts + deletes maintains the curated
    corpus through a foreachBatch `curated_upsert_ledger` sink; the
    final state equals the rebuild over the accumulated corpus
    regardless of the micro-batch split (the r13 streaming-tombstone
    pin, one level up)."""
    import json as _json

    from pyspark.sql import types as T

    from export_oltp_to_olap_spark.plans import curation as C

    docs = (
        _docs(spark, sf0001).select("doc_id", "text").localCheckpoint()
    )
    rows = docs.orderBy("doc_id").collect()
    events = []
    for r in rows:
        if r["doc_id"] % 9 == 0:
            events.append({"op": "delete", "doc_id": r["doc_id"], "text": None})
        elif r["doc_id"] % 6 == 0:
            events.append(
                {
                    "op": "upsert",
                    "doc_id": r["doc_id"],
                    "text": r["text"] + " streamed zz",
                }
            )
    assert len(events) >= 6
    feed = tmp_path / "cdc"
    feed.mkdir()
    third = max(1, len(events) // 3)
    for i in range(3):
        chunk = events[i * third :] if i == 2 else events[i * third : (i + 1) * third]
        with open(feed / f"b{i}.json", "w") as f:
            for e in chunk:
                f.write(_json.dumps(e) + "\n")

    stream = (
        spark.readStream.schema(
            T.StructType(
                [
                    T.StructField("doc_id", T.LongType()),
                    T.StructField("op", T.StringType()),
                    T.StructField("text", T.StringType()),
                ]
            )
        )
        .option("maxFilesPerTrigger", "1")
        .json(str(feed))
    )
    from export_oltp_to_olap_spark.operators.neardup import ngram_shingle_sets

    k0, l0, p0 = C.curation_standing_ledger(docs)
    s0 = ngram_shingle_sets(k0.select("doc_id", "text"))
    state = {"ledger": (k0, l0, p0, s0), "live": docs}

    def sink(batch_df, _):
        deleted = batch_df.where(F.col("op") == "delete").select("doc_id")
        changed = batch_df.where(F.col("op") == "upsert").select(
            "doc_id", "text"
        )
        k, l, p, sets = state["ledger"]
        k, l, p, sets, _out = C.curated_upsert_ledger(
            deleted, changed, k, l, p, standing_sets=sets
        )
        state["ledger"] = (
            k.localCheckpoint(),
            l.localCheckpoint(),
            p.localCheckpoint(),
            sets.localCheckpoint(),
        )
        state["live"] = (
            state["live"]
            .join(
                deleted.unionByName(changed.select("doc_id")).distinct(),
                "doc_id",
                "left_anti",
            )
            .unionByName(changed)
            .localCheckpoint()
        )

    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    k, l, p, _sets = state["ledger"]
    # Final curated corpus from the threaded ledger (empty batch =
    # identity, pinned above) must equal the rebuild over the stream's
    # accumulated corpus.
    empty_d = spark.createDataFrame([], "doc_id long")
    empty_c = spark.createDataFrame([], "doc_id long, text string")
    got = _curated_shape(C.curated_upsert(empty_d, empty_c, k, l, p))
    want = _curated_shape(C.curated_corpus(state["live"]))
    assert got == want and want
    assert _ledger_shape(k, l, p) == _ledger_shape(
        *C.curation_standing_ledger(state["live"])
    )


@pytest.mark.slow
def test_curate_ledger_cli_roundtrip(spark, sf0001, tmp_path):
    """`cli.py curate-ledger-init` + two chained `curate-ledger-apply`
    calls through REAL parquet round-trips: each apply's
    curated.parquet must equal the rebuild over the accumulated
    corpus, and same-dir overwrite is refused (the lazy
    read-then-overwrite trap)."""
    import argparse
    import json as _json

    from export_oltp_to_olap_spark import cli
    from export_oltp_to_olap_spark.plans import curation as C

    docs = _docs(spark, sf0001).select("doc_id", "text").localCheckpoint()
    corpus = str(tmp_path / "corpus.parquet")
    docs.write.parquet(corpus)
    ledger0 = str(tmp_path / "ledger0")
    rc = cli.cmd_curate_ledger_init(
        argparse.Namespace(corpus=corpus, out=ledger0), spark
    )
    assert rc == 0

    live = docs
    prev = ledger0
    for i, (dmod, cmod) in enumerate([(9, 6), (7, 5)]):
        rows = live.orderBy("doc_id").collect()
        batch = str(tmp_path / f"batch{i}.json")
        with open(batch, "w") as f:
            for r in rows:
                if r["doc_id"] % dmod == 0:
                    f.write(
                        _json.dumps(
                            {"doc_id": r["doc_id"], "op": "delete", "text": None}
                        )
                        + "\n"
                    )
                elif r["doc_id"] % cmod == 0:
                    f.write(
                        _json.dumps(
                            {
                                "doc_id": r["doc_id"],
                                "op": "upsert",
                                "text": r["text"] + f" cli{i} zz",
                            }
                        )
                        + "\n"
                    )
        out = str(tmp_path / f"ledger{i + 1}")
        rc = cli.cmd_curate_ledger_apply(
            argparse.Namespace(ledger=prev, batch=batch, out=out), spark
        )
        assert rc == 0
        deleted = live.select("doc_id").where(F.col("doc_id") % dmod == 0)
        changed = (
            live.where(
                (F.col("doc_id") % cmod == 0) & (F.col("doc_id") % dmod != 0)
            )
            .select(
                "doc_id", F.concat("text", F.lit(f" cli{i} zz")).alias("text")
            )
        )
        live = _upserted_corpus(live, deleted, changed).localCheckpoint()
        got = _curated_shape(spark.read.parquet(f"{out}/curated.parquet"))
        want = _curated_shape(C.curated_corpus(live))
        assert got == want and want, f"apply {i} diverged"
        prev = out

    rc = cli.cmd_curate_ledger_apply(
        argparse.Namespace(ledger=prev, batch=batch, out=prev), spark
    )
    assert rc == 2


@pytest.mark.slow
def test_curated_upsert_property_random_chains(spark, sf001):
    """Hypothesis sibling of the seeded-random test (the r13 retract
    convention): tiny corpora of token-windows drawn from REAL gated
    fixture texts (so the language/quality gates pass non-vacuously),
    random overlapping delete + rewrite sets (delete wins) — upsert ≡
    the full curation rebuild over the effective corpus, with
    shrinking on failure."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from export_oltp_to_olap_spark.plans import curation as C

    base_texts = _distinct_gated_texts(spark, sf001, n=3)
    pools = [t.split() for t in base_texts]
    nonempty = [0]

    @st.composite
    def corpus_and_batch(draw):
        n = draw(st.integers(min_value=3, max_value=7))
        docs = []
        for i in range(n):
            pool = pools[draw(st.integers(0, len(pools) - 1))]
            start = draw(st.integers(0, max(0, len(pool) - 20)))
            length = draw(st.integers(min_value=10, max_value=20))
            docs.append((i + 1, " ".join(pool[start : start + length])))
        deleted = draw(
            st.lists(st.integers(1, n), unique=True, max_size=n)
        )
        rewrites = []
        for did in draw(
            st.lists(st.integers(1, n + 2), unique=True, max_size=n)
        ):  # ids past n are inserts
            pool = pools[draw(st.integers(0, len(pools) - 1))]
            start = draw(st.integers(0, max(0, len(pool) - 20)))
            length = draw(st.integers(min_value=10, max_value=20))
            rewrites.append((did, " ".join(pool[start : start + length])))
        return docs, deleted, rewrites

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(cb=corpus_and_batch())
    def run(cb):
        rows, deleted, rewrites = cb
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        ddf = spark.createDataFrame(
            [(d,) for d in deleted] or [(None,)], "doc_id long"
        ).where(F.col("doc_id").isNotNull())
        cdf = spark.createDataFrame(
            rewrites or [(None, None)], "doc_id long, text string"
        ).where(F.col("doc_id").isNotNull())
        ledger = C.curation_standing_ledger(docs)
        got = _curated_shape(C.curated_upsert(ddf, cdf, *ledger))
        eff_changed = cdf.join(ddf, "doc_id", "left_anti")
        want = _curated_shape(
            C.curated_corpus(_upserted_corpus(docs, ddf, eff_changed))
        )
        assert got == want
        if want:
            nonempty[0] += 1

    run()
    assert nonempty[0] > 0, "every example was gate-vacuous — fix the pools"
