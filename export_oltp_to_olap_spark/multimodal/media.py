"""Multimodal columns: image/audio/video as opaque ``binary`` + typed metadata.

North-star extension (no analog in the reference, which is flat-relational
only — SURVEY.md §1.1): a 100 TB training-data pipeline carries media as
bytes next to its metadata and runs decode / feature-extraction / resize /
frame-sampling as Arrow-batched Python over ``mapInPandas``.

Design for scale:

* **Bytes stay opaque to the engine.**  The ``content`` column is
  ``BinaryType``; Spark shuffles/spills it without interpreting it, and
  Parquet stores it as a byte-array column that column-pruning skips
  entirely when a query touches only metadata.
* **Metadata is a typed struct**, so predicates like
  ``meta.width > 512`` prune at the scan (parquet column statistics work
  on struct leaves) without ever reading a byte of media.
* **Python only where unavoidable.**  Feature extraction over raw bytes is
  genuinely non-relational, so it runs in ``mapInPandas`` — Arrow moves
  whole columnar batches across the JVM↔Python boundary, numpy processes
  each batch vectorized; never one Python call per row.
* **Codec decode is STUBBED.**  Real image/audio decoding needs PIL /
  torchaudio / ffmpeg, none of which ship in this container.  The
  ``decode_*`` functions raise ``NotImplementedError`` unless the codec
  import succeeds; the deterministic fake (``fake_decode_array``) keeps
  every downstream shape real and testable.  The Spark-side plumbing —
  schemas, batch iteration, partitioning, explode of sampled frames — is
  the real, tested artifact.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from export_oltp_to_olap_spark.operators.diff import DELTA_CUT_FRACTION, delta_cut
from export_oltp_to_olap_spark.operators.partitioning import spread_for_compute

if TYPE_CHECKING:  # pragma: no cover
    import numpy as np
    import pandas as pd

META_SCHEMA = T.StructType(
    [
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("meta", META_SCHEMA),
    ]
)

KINDS = ("image", "audio", "video")


def synthesize_media(documents: DataFrame) -> DataFrame:
    """Deterministic fake media table derived from ``documents``.

    Stands in for a real ingest (S3 byte fetch / tar unpack): ``content``
    is the UTF-8 encoding of the document text — deterministic, varied
    lengths, reproducible in any engine via ``encode()`` — and ``meta`` is
    derived arithmetically from ``doc_id``.  All JVM-side expressions; the
    Python boundary starts only at feature extraction.
    """
    did = F.col("doc_id")
    return documents.select(
        did.alias("media_id"),
        F.element_at(F.array(*[F.lit(k) for k in KINDS]), (did % 3 + 1).cast("int")).alias(
            "kind"
        ),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.struct(
            F.lit("raw").alias("format"),
            (did % 640 + 64).cast("int").alias("width"),
            (did % 480 + 48).cast("int").alias("height"),
            F.lit(16000).cast("int").alias("sample_rate"),
            ((did % 30 + 1) * 1000).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


# ---------------------------------------------------------------------------
# Decode layer: real codecs stubbed, deterministic fake for the pipeline
# ---------------------------------------------------------------------------


def decode_image(content: bytes) -> "np.ndarray":
    """Decode an encoded image to an HxWx3 array.  STUB: needs PIL."""
    try:
        from PIL import Image  # noqa: F401
    except ImportError as exc:  # pragma: no cover - container has no PIL
        raise NotImplementedError(
            "real image decode needs PIL/Pillow (not in this container); "
            "use fake_decode_array for the deterministic test path"
        ) from exc
    import io

    import numpy as np
    from PIL import Image

    return np.asarray(Image.open(io.BytesIO(content)).convert("RGB"))


def decode_audio(content: bytes) -> "np.ndarray":
    """Decode encoded audio to a 1-D PCM array.  STUB: needs soundfile."""
    try:
        import soundfile  # noqa: F401
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError(
            "real audio decode needs soundfile/librosa (not in this "
            "container); use fake_decode_array for the deterministic path"
        ) from exc
    raise NotImplementedError("unreachable in this container")


def fake_decode_array(content: bytes) -> "np.ndarray":
    """Deterministic stand-in decode: raw bytes as a uint8 array.

    Keeps every downstream shape (dtype, vectorized reductions, frame
    slicing) identical to a real decode so the plumbing is fully tested.
    """
    import numpy as np

    return np.frombuffer(content, dtype=np.uint8)


# ---------------------------------------------------------------------------
# Feature extraction / frame sampling — Arrow-batched mapInPandas
# ---------------------------------------------------------------------------

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("size_bytes", T.LongType()),
        T.StructField("mean_byte", T.DoubleType()),
        T.StructField("std_byte", T.DoubleType()),
        T.StructField("byte_entropy", T.DoubleType()),
    ]
)


def extract_features(media: DataFrame) -> DataFrame:
    """Per-item byte statistics via ``mapInPandas``.

    One Arrow batch in → one pandas DataFrame out; numpy reductions run
    per batch (vectorized across rows' buffers), no per-row Python
    function dispatch through Spark.  At 100 TB this is the pattern for
    any bytes→features stage: the batch size is bounded by
    ``spark.sql.execution.arrow.maxRecordsPerBatch``, so executor memory
    is bounded regardless of table size.

    The input is spread first: a single-file source arrives as ONE
    partition, and a map-only Python stage inherits it — round 1 ran this
    28 s on one core with 31 idle.  The small repartition shuffle buys
    full-width Python parallelism (see operators/partitioning.py).
    """

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        # Inline decode (== fake_decode_array): the closure must not
        # reference package globals so it pickles by value and runs on
        # workers that don't have the package on sys.path; the shipped
        # package (shipping.ensure_shipped) is belt-and-suspenders.
        def decode(content: bytes) -> "np.ndarray":
            return np.frombuffer(content, dtype=np.uint8)

        for pdf in it:
            out = {
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "size_bytes": [],
                "mean_byte": [],
                "std_byte": [],
                "byte_entropy": [],
            }
            for content in pdf["content"]:
                arr = decode(content)
                out["size_bytes"].append(len(arr))
                if len(arr) == 0:
                    out["mean_byte"].append(0.0)
                    out["std_byte"].append(0.0)
                    out["byte_entropy"].append(0.0)
                    continue
                counts = np.bincount(arr, minlength=256)
                p = counts[counts > 0] / len(arr)
                out["mean_byte"].append(float(arr.mean()))
                out["std_byte"].append(float(arr.std()))
                out["byte_entropy"].append(float(-(p * np.log2(p)).sum()))
            yield pd.DataFrame(out)

    return spread_for_compute(media, "media_id").mapInPandas(
        batches, schema=FEATURE_SCHEMA
    )


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_frames(media: DataFrame, frame_bytes: int = 256, stride: int = 4) -> DataFrame:
    """Frame-sample ``video`` items: every ``stride``-th fixed-size chunk.

    The deterministic fake of ffmpeg keyframe extraction: chunking raw
    bytes stands in for frames, so the output shape (one row per sampled
    frame, binary payload, ordinal) and the explode-style fan-out are
    real.  Fan-out happens inside the Arrow batch — no join; the input is
    spread first so the Python stage runs at full width (see
    ``extract_features``).
    """

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            ids: list[int] = []
            nos: list[int] = []
            frames: list[bytes] = []
            for mid, kind, content in zip(pdf["media_id"], pdf["kind"], pdf["content"]):
                if kind != "video":
                    continue
                n_frames = max(len(content) // frame_bytes, 1)
                for no in range(0, n_frames, stride):
                    ids.append(mid)
                    nos.append(no)
                    frames.append(bytes(content[no * frame_bytes : (no + 1) * frame_bytes]))
            yield pd.DataFrame({"media_id": ids, "frame_no": nos, "frame": frames})

    return spread_for_compute(media, "media_id").mapInPandas(
        batches, schema=FRAME_SCHEMA
    )


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Resize every image item.  STUB: raises unless PIL is present; the
    signature and schema (same media schema, updated meta) are the
    contract a codec-enabled deployment fills in."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            for content in pdf["content"]:
                decode_image(content)  # raises NotImplementedError w/o PIL
            yield pdf

    return spread_for_compute(media, "media_id").mapInPandas(
        batches, schema=MEDIA_SCHEMA
    )


def sampled_frame_digests(documents: DataFrame) -> DataFrame:
    """Frame sampling with hashable output: (media_id, frame_no,
    frame_md5, frame_bytes).

    The driver's correctness gate hashes result VALUES — raw binary frames
    don't serialize into that check (round 1: ``media_frame_sample`` was
    registered but produced no CORRECTNESS row), so the registered query
    digests each frame instead.  The full binary pipeline still runs
    (``sample_frames`` fans out real byte frames; the digest is computed
    FROM the binary column), and the md5 makes every frame's exact bytes
    oracle-checkable rather than rows-only.
    """
    frames = sample_frames(synthesize_media(documents))
    return frames.select(
        "media_id",
        "frame_no",
        F.md5(F.col("frame")).alias("frame_md5"),
        F.octet_length(F.col("frame")).cast("int").alias("frame_bytes"),
    )


# DuckDB has no BLOB substring/slice, so the oracle chunks the VARCHAR
# text instead — byte-identical to the Spark side only while every
# document is pure ASCII (octet_length(encode(text)) == length(text)).
# That property is pinned per-fixture by tests/test_multimodal.py::
# test_documents_corpus_is_ascii (sf0.001, sf0.01, and sf0.1 when
# present); a non-ASCII corpus regeneration fails that test loudly
# instead of silently hash-mismatching here.  md5(VARCHAR) hashes UTF-8
# bytes in both engines.
FRAME_DIGEST_SQL = """
WITH media AS (
  SELECT doc_id AS media_id, text AS content
  FROM documents WHERE doc_id % 3 = 2
),
nos AS (
  SELECT media_id, content,
         unnest(range(0, greatest(length(content) // 256, 1), 4)) AS no
  FROM media
),
frames AS (
  SELECT media_id, CAST(no AS INTEGER) AS frame_no,
         substring(content, CAST(no * 256 + 1 AS INTEGER), 256) AS frame
  FROM nos
)
SELECT media_id, frame_no, md5(frame) AS frame_md5,
       CAST(octet_length(encode(frame)) AS INTEGER) AS frame_bytes
FROM frames
""".strip()


FEATURE_DIGEST_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("size_bytes", T.LongType()),
        T.StructField("byte_sum", T.LongType()),
        T.StructField("byte_sq_sum", T.LongType()),
        T.StructField("byte_entropy", T.DoubleType()),
    ]
)


def feature_digests(media: DataFrame) -> DataFrame:
    """The oracle-checkable registration of the byte-feature stage.

    Same Arrow-batched ``mapInPandas`` pipeline as ``extract_features``
    (spread first, numpy per batch), but emitting digests the driver can
    value-hash against a DuckDB restatement:

    * ``byte_sum`` / ``byte_sq_sum`` — EXACT integer moments (mean and
      std are derivable as ``byte_sum/size`` and
      ``sqrt(byte_sq_sum/size - mean²)``); integers sidestep
      float-summation-order differences between numpy and SQL entirely.
    * ``entropy_q4`` — the one irreducibly-float feature, digested at
      fixed precision (round 4): both engines compute the same Shannon
      sum from the same exact histogram, so they agree to ~1e-13 and the
      4-decimal quantization is stable.
    """

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        # Inline decode (== fake_decode_array) — see extract_features for
        # why the closure must not touch package globals.
        def decode(content: bytes) -> "np.ndarray":
            return np.frombuffer(content, dtype=np.uint8)

        for pdf in it:
            out = {
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "size_bytes": [],
                "byte_sum": [],
                "byte_sq_sum": [],
                "byte_entropy": [],
            }
            for content in pdf["content"]:
                arr = decode(content).astype(np.int64)
                out["size_bytes"].append(len(arr))
                if len(arr) == 0:
                    out["byte_sum"].append(0)
                    out["byte_sq_sum"].append(0)
                    out["byte_entropy"].append(0.0)
                    continue
                counts = np.bincount(arr, minlength=256)
                p = counts[counts > 0] / len(arr)
                out["byte_sum"].append(int(arr.sum()))
                out["byte_sq_sum"].append(int((arr * arr).sum()))
                out["byte_entropy"].append(float(-(p * np.log2(p)).sum()))
            yield pd.DataFrame(out)

    digests = spread_for_compute(media, "media_id").mapInPandas(
        batches, schema=FEATURE_DIGEST_SCHEMA
    )
    # Quantize JVM-side so both engines round the same double the same
    # way (Spark HALF_UP ≡ DuckDB half-away-from-zero for positives).
    return digests.select(
        "media_id",
        "kind",
        "size_bytes",
        "byte_sum",
        "byte_sq_sum",
        F.round(F.col("byte_entropy"), 4).alias("entropy_q4"),
    )


# DuckDB restatement: explode each document's (ASCII — see
# FRAME_DIGEST_SQL note) text into character codes, rebuild the exact
# byte histogram, and compute the same integer moments + Shannon entropy.
# Empty documents are preserved via the LEFT JOIN (no char rows → zero
# moments, entropy 0.0), mirroring the Python branch.
FEATURE_DIGEST_SQL = """
WITH media AS (
  SELECT doc_id AS media_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         text AS content
  FROM documents
),
positions AS (
  SELECT media_id, content,
         unnest(range(1, length(content) + 1)) AS pos
  FROM media
),
hist AS (
  SELECT media_id, ascii(substring(content, CAST(pos AS INTEGER), 1)) AS b,
         count(*) AS c
  FROM positions
  GROUP BY media_id, b
),
sizes AS (
  SELECT media_id, CAST(sum(c) AS BIGINT) AS size_bytes
  FROM hist GROUP BY media_id
),
agg AS (
  SELECT h.media_id,
         max(s.size_bytes) AS size_bytes,
         CAST(sum(h.b * h.c) AS BIGINT) AS byte_sum,
         CAST(sum(h.b * h.b * h.c) AS BIGINT) AS byte_sq_sum,
         -sum((h.c / CAST(s.size_bytes AS DOUBLE))
              * log2(h.c / CAST(s.size_bytes AS DOUBLE))) AS entropy
  FROM hist h JOIN sizes s USING (media_id)
  GROUP BY h.media_id
)
SELECT m.media_id, m.kind,
       COALESCE(a.size_bytes, 0) AS size_bytes,
       COALESCE(a.byte_sum, 0) AS byte_sum,
       COALESCE(a.byte_sq_sum, 0) AS byte_sq_sum,
       COALESCE(round(a.entropy, 4), 0.0) AS entropy_q4
FROM media m LEFT JOIN agg a USING (media_id)
""".strip()


# ---------------------------------------------------------------------------
# Media dedup: exact byte dedup + histogram near-dup over binary columns
# ---------------------------------------------------------------------------

# Raw (unnormalized) byte-histogram L1 threshold for the near-dup
# verify.  KEY INEQUALITY: Σ|a_i − b_i| ≥ |Σa_i − Σb_i| = |Δsize|, so a
# pair under the threshold differs by at most MEDIA_NEARDUP_L1 bytes —
# which makes size-band blocking LOSSLESS (see media_histogram_neardup).
# Chosen from the measured sf0.01 distance distribution: true dup-family
# pairs sit ≤ 24 (40 pairs), the cross-document noise floor starts ~32
# (200) and explodes past 48 (1.8k) — the same selectivity shape as the
# text near-dup rungs.
MEDIA_NEARDUP_L1 = 24
_HIST_BINS = 256  # full byte histogram — coarser bins blur the gap


def media_exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact binary dedup over the media ``content`` column: sha-256
    groups, canonical = min media_id per group (the LWW/dedup keeper
    convention), one row per item in a duplicated group.

    ``(media_id, content_sha, canonical_id, n_copies)`` for EVERY item
    (the keeper ledger: ``media_id == canonical_id`` marks survivors;
    the fixture corpus has no byte-identical pair, so there n_copies is
    1 throughout and the hash pins the full digest column).  All
    JVM-side (sha2 + one window); at 100 TB this is one shuffle on the
    32-byte digest, the cheapest dedup rung for stored blobs and the
    first pass every media lake runs before any perceptual method.
    """
    from pyspark.sql import Window

    media = synthesize_media(documents)
    hashed = media.select(
        "media_id", F.sha2(F.col("content"), 256).alias("content_sha")
    )
    w = Window.partitionBy("content_sha")
    return (
        hashed.withColumn("n_copies", F.count(F.lit(1)).over(w))
        .withColumn("canonical_id", F.min("media_id").over(w))
        .select(
            "media_id",
            "content_sha",
            F.col("canonical_id").cast("long").alias("canonical_id"),
            F.col("n_copies").cast("long").alias("n_copies"),
        )
        .orderBy("media_id")
    )


MEDIA_EXACT_DEDUP_SQL = """
WITH hashed AS (
  SELECT doc_id AS media_id, sha256(text) AS content_sha
  FROM documents
)
SELECT media_id, content_sha,
       CAST(min(media_id) OVER (PARTITION BY content_sha) AS BIGINT) AS canonical_id,
       CAST(count(*) OVER (PARTITION BY content_sha) AS BIGINT) AS n_copies
FROM hashed
ORDER BY media_id
""".strip()


def media_byte_histograms(media: DataFrame) -> DataFrame:
    """Per-item byte histogram: ``(media_id, kind, size_bytes, hist)``
    with ``hist`` = 256 bigint byte counts — the Arrow-batched
    bytes→features stage (same mapInPandas shape as `feature_digests`;
    with real codecs this is where pixel/PCM histograms would come
    from)."""
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("size_bytes", T.LongType()),
            T.StructField("hist", T.ArrayType(T.LongType())),
        ]
    )

    def batches(it):
        import numpy as np
        import pandas as pd

        def decode(content: bytes) -> "np.ndarray":
            return np.frombuffer(content, dtype=np.uint8)

        for pdf in it:
            hists = []
            sizes = []
            for content in pdf["content"]:
                arr = decode(content)
                sizes.append(len(arr))
                hists.append(
                    np.bincount(arr, minlength=_HIST_BINS).astype("int64").tolist()
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "size_bytes": sizes,
                    "hist": hists,
                }
            )

    return spread_for_compute(media, "media_id").mapInPandas(batches, schema=schema)


# Second blocking dimension: count of bytes below this value.  For ANY
# fixed bin subset S, |Σ_{i∈S}(a_i − b_i)| ≤ Σ_i|a_i − b_i| = L1, so a
# qualifying pair's n_low values differ by ≤ threshold — the same
# 1-D triangle-inequality shape as size, hence the same lossless
# two-offset-grid blocking applies per dimension.  110 ('n') rather
# than 128 so ASCII corpora (letters live in 97-122) discriminate too;
# for near-uniform compressed media bytes any split is ~equivalent and
# the binomial fluctuation √(p(1−p)·size) spreads a hot fixed-size
# band across many n_low cells.
_NLOW_SPLIT = 110

# Per-(kind, cell) item cap: cells holding MORE items than this are
# degenerate hot blocks (e.g. a corpus of byte-identical-distribution
# crops) whose intra-cell all-pairs join would be quadratic on one key
# — the same blow-up CLONE_SIGNAL_MAX_DF kills in winnow.py.  Capped
# cells are dropped from candidate generation entirely and surfaced
# per item by `media_neardup_capped_items` (the ``capped_hashes``
# pattern).  Fixture occupancy peaks at 194 (sf0.1), so the default
# changes nothing there.
MEDIA_CELL_MAX_ITEMS = 1024


def _media_cells(stats: DataFrame, threshold: int) -> DataFrame:
    """4 tagged grid cells per item over the two lossless blocking
    dimensions (size_bytes, n_low): {A, B} offset grids per dimension,
    width 2t, offset t.  A qualifying pair (L1 ≤ t ⇒ both deltas ≤ t)
    co-occupies a cell in at least one grid of EACH dimension, so it
    shares at least one of the 4 combo cells.  Cells are tagged
    strings (``sA12|nB5``), keeping the grid namespaces disjoint by
    construction (no numeric-offset collisions)."""
    w = F.lit(2 * threshold)

    def grids(col: str, tag_a: str, tag_b: str):
        return (
            (tag_a, F.floor(F.col(col) / w)),
            (tag_b, F.floor((F.col(col) + F.lit(threshold)) / w)),
        )

    combos = [
        F.concat(F.lit(st), sg.cast("string"), F.lit("|"), F.lit(nt), ng.cast("string"))
        for st, sg in grids("size_bytes", "sA", "sB")
        for nt, ng in grids("n_low", "nA", "nB")
    ]
    # size_bytes/n_low ride along (two longs): the candidate join
    # applies |Δ| ≤ t on both as EXACT necessary conditions (each is a
    # 1-D projection of the L1), pruning same-cell-but-too-far pairs
    # before the expensive histogram verify.  ``stats`` is exactly
    # (media_id, kind, size_bytes, n_low) for the batch faces;
    # ``select("*", …)`` (rather than naming those four) lets the
    # streaming face (`streaming/media_stream.py`) carry ``hist``
    # through the SAME blocking expressions — identical projection,
    # identical plan, for every existing caller.
    return stats.select("*", F.explode(F.array(*combos)).alias("cell"))


def _cells_from_hists(
    hists: DataFrame, threshold: int, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Per-item cell rows from a histogram frame; ``n_low`` is JVM-side
    arithmetic over the hist array.  ``keep`` names extra ``hists``
    columns to carry through the blocking (the streaming face rides
    ``hist`` along so its stateful verify needs no stream-stream
    self-join); batch callers pass nothing and get the identical
    4-column stats frame as before."""
    n_low = F.aggregate(
        F.slice("hist", 1, _NLOW_SPLIT),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    stats = hists.select(
        "media_id", "kind", "size_bytes", n_low.alias("n_low"), *keep
    )
    return _media_cells(stats, threshold)


def _media_stats_and_cells(documents: DataFrame, threshold: int):
    """Shared head of the near-dup faces: staged histograms (one Arrow
    sweep feeding cells AND the verify re-attach) + the per-item cell
    rows."""
    from export_oltp_to_olap_spark.operators.staging import stage_fanout

    hists = stage_fanout(media_byte_histograms(synthesize_media(documents)))
    return hists, _cells_from_hists(hists, threshold)


def _hot_cells(cells: DataFrame, max_cell_items: int) -> DataFrame:
    return (
        cells.groupBy("kind", "cell")
        .agg(F.count(F.lit(1)).alias("n_items"))
        .where(F.col("n_items") > F.lit(max_cell_items))
        .select("kind", "cell")
    )


def _candidate_pairs(
    cells: DataFrame, threshold: int, max_cell_items: int
) -> DataFrame:
    """Distinct ``(media_id_a, media_id_b)`` from the slim blocked
    join: cap-surviving cells equi-joined on (kind, cell), pruned by
    the exact 1-D necessary conditions |Δsize| ≤ t and |Δn_low| ≤ t
    (each bounds the L1 from below), spread to full width BEFORE the
    distinct — left to AQE, the byte-small pair stream coalesces to a
    few partitions and serializes the downstream per-pair verify."""
    ok = cells.join(_hot_cells(cells, max_cell_items), ["kind", "cell"], "left_anti")
    a = ok.select(
        F.col("media_id").alias("media_id_a"),
        "kind",
        "cell",
        F.col("size_bytes").alias("size_a"),
        F.col("n_low").alias("nlow_a"),
    )
    b = ok.select(
        F.col("media_id").alias("media_id_b"),
        "kind",
        "cell",
        F.col("size_bytes").alias("size_b"),
        F.col("n_low").alias("nlow_b"),
    )
    return (
        spread_for_compute(
            a.join(b, ["kind", "cell"])
            .where(
                (F.col("media_id_a") < F.col("media_id_b"))
                & (F.abs(F.col("size_a") - F.col("size_b")) <= F.lit(threshold))
                & (F.abs(F.col("nlow_a") - F.col("nlow_b")) <= F.lit(threshold))
            )
            .select("media_id_a", "media_id_b"),
            "media_id_a",
            "media_id_b",
        )
        .distinct()  # up to 4 combo cells can produce the same pair
    )


def media_neardup_candidates(
    documents: DataFrame,
    threshold: int = MEDIA_NEARDUP_L1,
    max_cell_items: int = MEDIA_CELL_MAX_ITEMS,
) -> DataFrame:
    """Distinct candidate pairs ``(media_id_a, media_id_b)`` from the
    2-D blocked, cell-capped join — the slim pre-verify stage, exposed
    for the scale-growth tests."""
    _, cells = _media_stats_and_cells(documents, threshold)
    return _candidate_pairs(cells, threshold, max_cell_items)


def media_histogram_neardup(
    documents: DataFrame,
    threshold: int = MEDIA_NEARDUP_L1,
    max_cell_items: int = MEDIA_CELL_MAX_ITEMS,
) -> DataFrame:
    """Near-duplicate media pairs: same ``kind``, raw byte-histogram
    L1 distance ≤ ``threshold``, excluding histogram-IDENTICAL
    pairs (exact duplicates and pure byte permutations — the exact
    rung's and a content hash's job, not a distribution method's).

    Blocking is LOSSLESS on two dimensions: Σ|a−b| ≥ |Δsize| and
    Σ|a−b| ≥ |Δn_low| (triangle inequality over any bin subset), and
    per dimension any delta-≤t pair avoids the boundaries of one of
    two offset grids of width 2t, so every qualifying pair shares one
    of the 4 tagged combo cells (`_media_cells`).  The second
    dimension is what splits the hot fixed-size bands real media
    corpora concentrate in (all 224×224 crops share one byte size but
    not one byte distribution).  Truly degenerate cells — identical
    size AND identical distribution beyond ``max_cell_items`` — are
    dropped from the join and surfaced by
    `media_neardup_capped_items`.

    ``(media_id_a, media_id_b, l1_dist)`` with a < b, ordered.

    Scale: one Arrow histogram sweep (staged — reused by the verify);
    candidate generation shuffles only (kind, cell-string, id) — 3
    narrow columns, NOT the 256-long histograms; the distinct'd
    candidates then re-attach each side's histogram by id join, so a
    histogram crosses the wire once per item, not once per candidate
    pair.  Per-cell fan-out is bounded by ``max_cell_items``².
    """
    hists, cells = _media_stats_and_cells(documents, threshold)
    cand = _candidate_pairs(cells, threshold, max_cell_items)
    ha = hists.select(
        F.col("media_id").alias("media_id_a"), F.col("hist").alias("hist_a")
    )
    hb = hists.select(
        F.col("media_id").alias("media_id_b"), F.col("hist").alias("hist_b")
    )
    l1 = F.aggregate(
        F.zip_with("hist_a", "hist_b", lambda x, y: F.abs(x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        cand.join(ha, "media_id_a")
        .join(hb, "media_id_b")
        .withColumn("l1_dist", l1)
        .where((F.col("l1_dist") <= threshold) & (F.col("l1_dist") > 0))
        .select("media_id_a", "media_id_b", "l1_dist")
        .orderBy("media_id_a", "media_id_b")
    )


def media_neardup_capped_items(
    documents: DataFrame,
    threshold: int = MEDIA_NEARDUP_L1,
    max_cell_items: int = MEDIA_CELL_MAX_ITEMS,
) -> DataFrame:
    """The truncation ledger for `media_histogram_neardup`'s cell cap
    (the winnowing ``capped_hashes`` pattern, winnow.py): one row per
    item that had ≥ 1 of its 4 blocking cells dropped as degenerate-hot,
    with the count of dropped cells.  ``(media_id, kind, capped_cells)``
    ordered by id; empty ⇔ the cap changed nothing (the fixture case at
    the production default)."""
    _, cells = _media_stats_and_cells(documents, threshold)
    return (
        cells.join(_hot_cells(cells, max_cell_items), ["kind", "cell"], "left_semi")
        .groupBy("media_id", "kind")
        .agg(F.count(F.lit(1)).cast("long").alias("capped_cells"))
        .orderBy("media_id")
    )


def _media_blocking_ctes(threshold: int, max_cell_items: int) -> str:
    """Shared CTE prefix for the near-dup oracle faces: media → byte
    histograms → (size, n_low) stats → 4 tagged combo cells → hot-cell
    set, mirroring `_media_cells`/`_hot_cells` exactly (ASCII fixture
    text: char codes == bytes, the FEATURE_DIGEST_SQL convention)."""
    w = 2 * threshold
    return f"""
WITH media AS (
  SELECT doc_id AS media_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         text AS content
  FROM documents
),
positions AS (
  SELECT media_id, kind, content,
         unnest(range(1, length(content) + 1)) AS pos
  FROM media
),
hist AS (
  SELECT media_id, kind,
         ascii(substring(content, CAST(pos AS INTEGER), 1)) AS bin,
         CAST(count(*) AS BIGINT) AS c
  FROM positions
  GROUP BY media_id, kind, bin
),
nlow AS (
  SELECT media_id, CAST(sum(c) AS BIGINT) AS n_low
  FROM hist WHERE bin < {_NLOW_SPLIT} GROUP BY media_id
),
stats AS (
  -- from media, not hist: a zero-byte item has no hist rows but must
  -- still block and pair (its L1 vs a tiny item is the other's size)
  SELECT m.media_id, m.kind, CAST(length(m.content) AS BIGINT) AS size_bytes,
         COALESCE(n.n_low, 0) AS n_low
  FROM media m LEFT JOIN nlow n USING (media_id)
),
cells AS (
  SELECT media_id, kind, size_bytes, n_low,
         'sA' || (size_bytes // {w}) || '|nA' || (n_low // {w}) AS cell FROM stats
  UNION ALL
  SELECT media_id, kind, size_bytes, n_low,
         'sA' || (size_bytes // {w}) || '|nB' || ((n_low + {threshold}) // {w}) FROM stats
  UNION ALL
  SELECT media_id, kind, size_bytes, n_low,
         'sB' || ((size_bytes + {threshold}) // {w}) || '|nA' || (n_low // {w}) FROM stats
  UNION ALL
  SELECT media_id, kind, size_bytes, n_low,
         'sB' || ((size_bytes + {threshold}) // {w}) || '|nB' || ((n_low + {threshold}) // {w}) FROM stats
),
hot AS (
  SELECT kind, cell FROM cells GROUP BY kind, cell HAVING count(*) > {max_cell_items}
)""".strip()


def media_neardup_sql(
    threshold: int = MEDIA_NEARDUP_L1, max_cell_items: int = MEDIA_CELL_MAX_ITEMS
) -> str:
    """DuckDB restatement of `media_histogram_neardup`: identical 2-D
    blocking, identical cell cap, exact integer L1 verify."""
    return f"""
{_media_blocking_ctes(threshold, max_cell_items)},
ok AS (
  SELECT c.media_id, c.kind, c.cell, c.size_bytes, c.n_low
  FROM cells c ANTI JOIN hot h ON c.kind = h.kind AND c.cell = h.cell
),
cand AS (
  -- |Δsize| and |Δn_low| ≤ t are exact 1-D lower bounds on the L1:
  -- prune same-cell-but-too-far pairs before the histogram verify
  SELECT DISTINCT a.media_id AS media_id_a, b.media_id AS media_id_b
  FROM ok a JOIN ok b ON a.kind = b.kind AND a.cell = b.cell
  WHERE a.media_id < b.media_id
    AND abs(a.size_bytes - b.size_bytes) <= {threshold}
    AND abs(a.n_low - b.n_low) <= {threshold}
),
pair_l1 AS (
  SELECT c.media_id_a, c.media_id_b,
         CAST(sum(abs(COALESCE(ha.c, 0) - COALESCE(hb.c, 0))) AS BIGINT) AS l1_dist
  FROM cand c
  CROSS JOIN unnest(range(0, {_HIST_BINS})) AS u(bin)
  LEFT JOIN hist ha ON ha.media_id = c.media_id_a AND ha.bin = u.bin
  LEFT JOIN hist hb ON hb.media_id = c.media_id_b AND hb.bin = u.bin
  GROUP BY c.media_id_a, c.media_id_b
)
SELECT media_id_a, media_id_b, l1_dist
FROM pair_l1
WHERE l1_dist <= {threshold} AND l1_dist > 0
ORDER BY media_id_a, media_id_b
""".strip()


def media_neardup_capped_sql(
    threshold: int = MEDIA_NEARDUP_L1, max_cell_items: int = MEDIA_CELL_MAX_ITEMS
) -> str:
    """DuckDB restatement of `media_neardup_capped_items`."""
    return f"""
{_media_blocking_ctes(threshold, max_cell_items)}
SELECT c.media_id, c.kind, CAST(count(*) AS BIGINT) AS capped_cells
FROM cells c SEMI JOIN hot h ON c.kind = h.kind AND c.cell = h.cell
GROUP BY c.media_id, c.kind
ORDER BY media_id
""".strip()


MEDIA_NEARDUP_SQL = media_neardup_sql()

# The registered truncation-ledger face runs at a deliberately LOW demo
# cap so the fixture corpus (max cell occupancy 23-27) actually exercises
# the cap and the driver oracle checks real rows; production keeps
# MEDIA_CELL_MAX_ITEMS.
MEDIA_NEARDUP_CAPPED_DEMO_MAX = 8
MEDIA_NEARDUP_CAPPED_SQL = media_neardup_capped_sql(
    max_cell_items=MEDIA_NEARDUP_CAPPED_DEMO_MAX
)


# ---------------------------------------------------------------------------
# Metadata-only query (oracle-checkable: never touches the bytes)
# ---------------------------------------------------------------------------


def media_metadata_stats(documents: DataFrame) -> DataFrame:
    """Per-kind metadata profile of the synthesized media table.

    Touches ``meta`` struct leaves and ``octet_length`` of the content
    only — no Python, no decode.  Over a *stored* media parquet the same
    plan reads just the needed leaf columns (struct-leaf pruning), so a
    metadata profile of a 100 TB media lake never fetches the bytes;
    ``octet_length`` would come from a persisted ``size_bytes`` column.
    """
    media = synthesize_media(documents)
    return (
        media.groupBy("kind")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.octet_length("content")).alias("total_bytes"),
            F.round(F.avg(F.col("meta.width")), 2).alias("avg_width"),
            F.round(F.avg(F.col("meta.height")), 2).alias("avg_height"),
            F.max(F.col("meta.duration_ms")).alias("max_duration_ms"),
        )
        .orderBy("kind")
    )


MEDIA_METADATA_SQL = """
WITH media AS (
  SELECT doc_id AS media_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         encode(text) AS content,
         CAST(doc_id % 640 + 64 AS INTEGER) AS width,
         CAST(doc_id % 480 + 48 AS INTEGER) AS height,
         CAST((doc_id % 30 + 1) * 1000 AS INTEGER) AS duration_ms
  FROM documents
)
SELECT kind,
       count(*) AS n_items,
       CAST(sum(octet_length(content)) AS BIGINT) AS total_bytes,
       round(avg(width), 2) AS avg_width,
       round(avg(height), 2) AS avg_height,
       max(duration_ms) AS max_duration_ms
FROM media
GROUP BY kind
ORDER BY kind
""".strip()


# ---------------------------------------------------------------------------
# Delta-vs-standing near-dup (the daily-ingest face)
# ---------------------------------------------------------------------------


def media_neardup_delta(
    documents: DataFrame,
    threshold: int = MEDIA_NEARDUP_L1,
    max_cell_items: int = MEDIA_CELL_MAX_ITEMS,
    standing_hists: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs TOUCHING an append-only delta batch — the
    daily-ingest face of `media_histogram_neardup`, completing the
    batch/delta symmetry the text rungs have (`fingerprint_delta`,
    `minhash_delta_neardup`): emitted pairs are exactly the full
    rebuild's pairs with at least one NEW side ((new,new) and
    (old,new); (old,old) was reported when the old batch landed).

    Fixture shape: the shared append batch (ids above `delta_cut`);
    the standing side's histograms are derived in-call here and
    PERSISTED in production (`media_byte_histograms` output is the
    standing side table, exactly like the winnowing fingerprint
    table).  Because blocking is deterministic and lossless and the
    cell cap is computed over the UNION (standing ∪ new — a cell is
    degenerate-hot no matter which batch its members arrived in),
    incremental ≡ rebuild-restricted is exact, and the oracle states
    precisely that claim.

    Scale: per batch, candidate volume is O(new × cell occupancy), not
    O(corpus²) — only cells containing a new item join, and the slim
    join's new side carries just the delta's cell rows.

    ``standing_hists`` (optional): the PERSISTED standing histogram
    table (`media_byte_histograms` output for the pre-cut corpus).
    When given, only the delta batch is histogrammed in-call — the
    steady-state production cost; when absent (the registered face),
    the standing side is bootstrapped in-call so the query stays
    self-contained and oracle-checkable.  Both modes emit identical
    rows (pinned by pytest).
    """
    from export_oltp_to_olap_spark.operators.staging import stage_fanout

    cut = delta_cut(documents)
    if standing_hists is None:
        hists, cells = _media_stats_and_cells(documents, threshold)
    else:
        new_docs = documents.join(
            F.broadcast(cut), F.col("doc_id") > F.col("cut")
        ).drop("cut")
        hists_new = media_byte_histograms(synthesize_media(new_docs))
        # spread after the union: both branches are identically
        # hash-partitioned, and a plain union would double the
        # partition count into downstream codegen joins (the known
        # unequal-partitions trap)
        hists = stage_fanout(
            spread_for_compute(
                standing_hists.unionByName(hists_new), "media_id"
            )
        )
        cells = _cells_from_hists(hists, threshold)
    cells_new = cells.join(
        F.broadcast(cut), F.col("media_id") > F.col("cut")
    ).drop("cut")
    hot = _hot_cells(cells, max_cell_items)
    ok_all = cells.join(hot, ["kind", "cell"], "left_anti")
    ok_new = cells_new.join(hot, ["kind", "cell"], "left_anti")
    a = ok_all.select(
        F.col("media_id").alias("id_x"),
        "kind",
        "cell",
        F.col("size_bytes").alias("size_x"),
        F.col("n_low").alias("nlow_x"),
    )
    b = ok_new.select(
        F.col("media_id").alias("id_y"),
        "kind",
        "cell",
        F.col("size_bytes").alias("size_y"),
        F.col("n_low").alias("nlow_y"),
    )
    cand = (
        spread_for_compute(
            a.join(b, ["kind", "cell"])
            .where(
                (F.col("id_x") != F.col("id_y"))
                & (F.abs(F.col("size_x") - F.col("size_y")) <= F.lit(threshold))
                & (F.abs(F.col("nlow_x") - F.col("nlow_y")) <= F.lit(threshold))
            )
            .select(
                F.least("id_x", "id_y").alias("media_id_a"),
                F.greatest("id_x", "id_y").alias("media_id_b"),
            ),
            "media_id_a",
            "media_id_b",
        )
        .distinct()  # both orders + up to 4 combo cells per pair
    )
    ha = hists.select(
        F.col("media_id").alias("media_id_a"), F.col("hist").alias("hist_a")
    )
    hb = hists.select(
        F.col("media_id").alias("media_id_b"), F.col("hist").alias("hist_b")
    )
    l1 = F.aggregate(
        F.zip_with("hist_a", "hist_b", lambda x, y: F.abs(x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        cand.join(ha, "media_id_a")
        .join(hb, "media_id_b")
        .withColumn("l1_dist", l1)
        .where((F.col("l1_dist") <= threshold) & (F.col("l1_dist") > 0))
        .select("media_id_a", "media_id_b", "l1_dist")
        .orderBy("media_id_a", "media_id_b")
    )


def media_neardup_delta_sql(
    threshold: int = MEDIA_NEARDUP_L1, max_cell_items: int = MEDIA_CELL_MAX_ITEMS
) -> str:
    """Oracle for `media_neardup_delta`: the FULL rebuild restricted to
    pairs with at least one delta-side id — the incremental ≡ rebuild
    claim stated directly (the `incremental_corpus_delta` convention)."""
    return f"""
{_media_blocking_ctes(threshold, max_cell_items)},
cutv AS (
  SELECT CAST(floor({DELTA_CUT_FRACTION} * max(media_id)) AS BIGINT) AS cut
  FROM stats
),
ok AS (
  SELECT c.media_id, c.kind, c.cell, c.size_bytes, c.n_low
  FROM cells c ANTI JOIN hot h ON c.kind = h.kind AND c.cell = h.cell
),
cand AS (
  SELECT DISTINCT a.media_id AS media_id_a, b.media_id AS media_id_b
  FROM ok a JOIN ok b ON a.kind = b.kind AND a.cell = b.cell
  WHERE a.media_id < b.media_id
    AND abs(a.size_bytes - b.size_bytes) <= {threshold}
    AND abs(a.n_low - b.n_low) <= {threshold}
    AND b.media_id > (SELECT cut FROM cutv)
),
pair_l1 AS (
  SELECT c.media_id_a, c.media_id_b,
         CAST(sum(abs(COALESCE(ha.c, 0) - COALESCE(hb.c, 0))) AS BIGINT) AS l1_dist
  FROM cand c
  CROSS JOIN unnest(range(0, {_HIST_BINS})) AS u(bin)
  LEFT JOIN hist ha ON ha.media_id = c.media_id_a AND ha.bin = u.bin
  LEFT JOIN hist hb ON hb.media_id = c.media_id_b AND hb.bin = u.bin
  GROUP BY c.media_id_a, c.media_id_b
)
SELECT media_id_a, media_id_b, l1_dist
FROM pair_l1
WHERE l1_dist <= {threshold} AND l1_dist > 0
ORDER BY media_id_a, media_id_b
""".strip()


MEDIA_NEARDUP_DELTA_SQL = media_neardup_delta_sql()
