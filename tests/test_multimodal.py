"""Multimodal pipeline: mapInPandas plumbing, deterministic fake decode,
stubbed codec boundaries."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from export_oltp_to_olap_spark.multimodal import media as M
from export_oltp_to_olap_spark.operators.diff import DELTA_CUT_FRACTION
from export_oltp_to_olap_spark.sources.parquet import load_tables


@pytest.fixture(scope="module")
def docs(spark, sf0001):
    return load_tables(spark, sf0001, ("documents",))["documents"]


@pytest.fixture(scope="module")
def media_df(docs):
    return M.synthesize_media(docs)


def test_documents_corpus_is_ascii(spark, sf0001, sf001):
    """FRAME_DIGEST_SQL / FEATURE_DIGEST_SQL chunk VARCHAR text where
    Spark chunks bytes; they are byte-identical only while every document
    is pure ASCII (octet_length(utf8) == char length).  Pin that property
    on every available fixture corpus (incl. the sf0.1 bench corpus) so a
    non-ASCII regeneration fails loudly instead of silently
    hash-mismatching the oracle (ADVICE r2)."""
    import os

    sf01 = os.path.join(os.path.dirname(sf001.rstrip("/")), "sf0.1")
    dirs = [sf0001, sf001] + ([sf01] if os.path.isdir(sf01) else [])
    for sf_dir in dirs:
        docs = load_tables(spark, sf_dir, ("documents",))["documents"]
        offenders = docs.where(
            F.octet_length(F.col("text")) != F.length(F.col("text"))
        ).count()
        assert offenders == 0, f"non-ASCII documents in {sf_dir}"


def test_media_schema_and_determinism(media_df):
    assert media_df.schema.simpleString() == M.MEDIA_SCHEMA.simpleString()
    a = sorted(r["media_id"] for r in media_df.select("media_id").collect())
    b = sorted(r["media_id"] for r in media_df.select("media_id").collect())
    assert a == b and len(a) > 0


def test_feature_extract_matches_python_oracle(docs, media_df):
    """Spark mapInPandas features == pure-Python recompute per document."""
    feats = {r["media_id"]: r for r in M.extract_features(media_df).collect()}
    raw = docs.select("doc_id", "text").limit(20).collect()
    assert len(feats) == docs.count()
    for row in raw:
        content = row["text"].encode("utf-8")
        got = feats[row["doc_id"]]
        assert got["size_bytes"] == len(content)
        want_mean = sum(content) / len(content)
        assert got["mean_byte"] == pytest.approx(want_mean, rel=1e-9)
        counts: dict[int, int] = {}
        for byte in content:
            counts[byte] = counts.get(byte, 0) + 1
        want_entropy = -sum(
            (c / len(content)) * math.log2(c / len(content)) for c in counts.values()
        )
        assert got["byte_entropy"] == pytest.approx(want_entropy, rel=1e-9)


def test_frame_sample_counts_and_kind(media_df):
    """One row per sampled frame, videos only, counts match the chunking
    formula ceil-free: range(0, max(len//256,1), 4)."""
    frames = M.sample_frames(media_df, frame_bytes=256, stride=4)
    got = (
        frames.groupBy("media_id").agg(F.count("*").alias("n")).collect()
    )
    sizes = {
        r["media_id"]: len(r["content"])
        for r in media_df.where(F.col("kind") == "video").collect()
    }
    assert {r["media_id"] for r in got} == set(sizes)
    for r in got:
        n_frames = max(sizes[r["media_id"]] // 256, 1)
        assert r["n"] == len(range(0, n_frames, 4))
    first = frames.orderBy("media_id", "frame_no").first()
    assert isinstance(first["frame"], (bytes, bytearray))
    assert len(first["frame"]) <= 256


def test_resize_is_stubbed_without_codec(media_df):
    """The real-codec path is a clearly-marked stub: NotImplementedError
    surfaces through the Spark job when PIL is absent."""
    try:
        import PIL  # noqa: F401

        pytest.skip("PIL present; stub path not applicable")
    except ImportError:
        pass
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    with pytest.raises((PythonException, Py4JJavaError), match="NotImplementedError"):
        M.resize_images(media_df.limit(1), 32, 32).collect()


def test_fake_decode_roundtrip():
    arr = M.fake_decode_array(b"\x00\x01\xff")
    assert list(arr) == [0, 1, 255]
    assert arr.dtype.name == "uint8"


def test_metadata_stats_no_python_stage(media_df, docs):
    """The metadata profile plan contains no Python/Arrow eval stage —
    it must stay JVM-side end to end."""
    plan = M.media_metadata_stats(docs)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_media_exact_dedup_groups_planted_duplicates(spark):
    """Byte-identical items share a sha group with min-id canonical;
    distinct items are their own group of 1."""
    rows = [(1, "same bytes here"), (4, "same bytes here"), (7, "different")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["media_id"]: r for r in M.media_exact_dedup(docs).collect()}
    # 1 and 4 are both kind 'audio'?  kind does not matter for exact:
    # grouping is on the bytes alone.
    assert out[1]["content_sha"] == out[4]["content_sha"]
    assert out[1]["canonical_id"] == out[4]["canonical_id"] == 1
    assert out[1]["n_copies"] == out[4]["n_copies"] == 2
    assert out[7]["n_copies"] == 1 and out[7]["canonical_id"] == 7


def test_media_neardup_finds_planted_near_pair(spark):
    """Two same-kind items differing by a few bytes pair up under the
    L1 threshold; histogram-identical copies are excluded; a distant
    item pairs with nothing.  doc_id % 3 picks the kind, so ids 3,6,9
    all land in one kind."""
    near_a = "shared media payload with many identical bytes inside"
    near_b = near_a + " x"  # 2 extra bytes -> L1 = 2
    rows = [(3, near_a), (6, near_b), (9, near_a), (12, "z" * 50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["media_id_a"], r["media_id_b"]): r["l1_dist"]
        for r in M.media_histogram_neardup(docs).collect()
    }
    assert pairs[(3, 6)] == 2 and pairs[(6, 9)] == 2
    assert (3, 9) not in pairs  # identical histograms -> exact rung's job
    assert not any(12 in p for p in pairs)


def test_media_neardup_blocking_is_lossless_at_boundaries(spark):
    """A near pair whose sizes straddle a grid-1 cell boundary must
    still be found via the offset grid (the two-grid losslessness
    claim), checked against an unblocked brute-force L1 join."""
    from export_oltp_to_olap_spark.multimodal.media import MEDIA_NEARDUP_L1

    base = "b" * 40
    rows = []
    # sizes around multiples of 2*threshold: 40..56 in steps straddling
    # the 48 boundary (2*24), all same kind (ids % 3 == 0)
    for i, size in enumerate((40, 46, 47, 48, 49, 50, 56, 70, 95, 96, 97)):
        rows.append((3 * (i + 1), "c" * size))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["media_id_a"], r["media_id_b"])
        for r in M.media_histogram_neardup(docs).collect()
    }
    # brute force over the same histograms
    hists = {
        r["media_id"]: (r["size_bytes"], r["hist"])
        for r in M.media_byte_histograms(M.synthesize_media(docs)).collect()
    }
    want = set()
    ids = sorted(hists)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            l1 = sum(abs(x - y) for x, y in zip(hists[a][1], hists[b][1]))
            if 0 < l1 <= MEDIA_NEARDUP_L1:
                want.add((a, b))
    assert got == want and want  # non-vacuous: boundary pairs exist


def test_media_neardup_delta_equals_rebuild_restricted(spark, sf001):
    """incremental ≡ rebuild: the delta face's pairs are exactly the
    full rebuild's pairs whose greater side is in the delta batch (ids
    above the cut — since delta ids are the highest, max(pair) > cut ⇔
    the pair touches the delta)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf001}/documents.parquet")
    cut = docs.agg(
        F.floor(F.lit(DELTA_CUT_FRACTION) * F.max("doc_id")).alias("c")
    ).first().c
    full = M.media_histogram_neardup(docs).where(F.col("media_id_b") > cut).collect()
    delta = M.media_neardup_delta(docs).collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, delta))
    assert delta, "fixture delta produced no touching pairs — claim untested"


def test_media_neardup_delta_standing_mode_equals_bootstrap(spark, sf001):
    """The persisted-standing-histograms mode (production steady state)
    emits exactly the bootstrap face's rows."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf001}/documents.parquet")
    cut = docs.agg(
        F.floor(F.lit(DELTA_CUT_FRACTION) * F.max("doc_id")).alias("c")
    ).first().c
    standing = M.media_byte_histograms(
        M.synthesize_media(docs.where(F.col("doc_id") <= cut))
    )
    a = M.media_neardup_delta(docs).collect()
    b = M.media_neardup_delta(docs, standing_hists=standing).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_media_blocking_equals_bruteforce_on_random_corpora(spark):
    """Losslessness, adversarially: on seeded random corpora (varied
    lengths, random byte mixes, planted ≤-threshold edit pairs) the
    blocked+capped+prefiltered pipeline emits EXACTLY the brute-force
    all-pairs answer — no blocking dimension, grid offset, cap, or 1-D
    prefilter may lose a qualifying pair."""
    import random
    import string

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        rows = []
        for i in range(1, 31):
            n = rng.randint(80, 400)
            rows.append(
                (3 * i, "".join(rng.choice(string.ascii_lowercase + " 0123456789")
                                 for _ in range(n)))
            )
        # planted near-pairs: copy with k single-char substitutions
        # (L1 ≤ 2k ≤ threshold) and same length
        for j, (base_id, text) in enumerate(rows[:5]):
            k = rng.randint(1, M.MEDIA_NEARDUP_L1 // 2)
            chars = list(text)
            for _ in range(k):
                p = rng.randrange(len(chars))
                chars[p] = rng.choice(string.ascii_lowercase)
            rows.append((3 * (100 + j), "".join(chars)))
        docs = spark.createDataFrame(rows, "doc_id long, text string")

        got = {
            (r.media_id_a, r.media_id_b, r.l1_dist)
            for r in M.media_histogram_neardup(docs).collect()
        }
        hists = M.media_byte_histograms(M.synthesize_media(docs))
        a = hists.select(
            F.col("media_id").alias("ia"), F.col("kind").alias("ka"),
            F.col("hist").alias("ha"),
        )
        b = hists.select(
            F.col("media_id").alias("ib"), F.col("kind").alias("kb"),
            F.col("hist").alias("hb"),
        )
        l1 = F.aggregate(
            F.zip_with("ha", "hb", lambda x, y: F.abs(x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        brute = {
            (r.ia, r.ib, r.l1)
            for r in a.crossJoin(b)
            .where((F.col("ia") < F.col("ib")) & (F.col("ka") == F.col("kb")))
            .withColumn("l1", l1)
            .where((F.col("l1") <= M.MEDIA_NEARDUP_L1) & (F.col("l1") > 0))
            .collect()
        }
        assert got == brute, f"seed {seed}: blocked != brute force"
        assert brute, f"seed {seed}: no qualifying pairs — planting failed"
