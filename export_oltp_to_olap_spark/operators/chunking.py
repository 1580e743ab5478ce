"""Context-window plumbing: document chunking and sequence packing.

The two operations every pretraining data pipeline runs between "clean
corpus" and "token batches":

* **Chunking** — split each document into fixed-size token windows with
  overlap (RAG indexing, long-doc truncation, embedding-model input
  prep).  Pure map-side fan-out: token array → offset sequence → slices,
  all JVM higher-order functions, no shuffle, no UDFs.
* **Packing** — lay documents end-to-end per source and cut the stream
  into fixed-token-budget bins (GPT-style sequence packing: a bin is a
  training sequence; a doc belongs to the bin where it starts).  One
  shuffle (partition by pack group) + an in-partition cumulative sum.

Scale: chunking scales like the scan.  Packing's cumulative sum is the
inherently sequential part, so it parallelizes by pack group: the
``shards`` knob splits each source into deterministic hash-range shards
(`md5` bucket of doc_id — same convention as `operators/sampling`) and
packs each (source, shard) independently — 100 TB packs as thousands of
independent groups while each bin stays internally contiguous.  Bin ids
are deterministic functions of (source, shard, doc order), stable
across runs and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from export_oltp_to_olap_spark.functions.text import tokens
from export_oltp_to_olap_spark.operators.diff import (
    SURVIVORS_CTE,
    maintain_monoid,
    split_at_cut,
    tombstoned,
)
from export_oltp_to_olap_spark.operators.sampling import _hash_bucket

CHUNK_TOKENS = 32  # fixture default: synthetic docs run ~40-200 tokens
CHUNK_OVERLAP = 8
PACK_WINDOW = 512


def chunk_documents(
    docs: DataFrame, chunk: int = CHUNK_TOKENS, overlap: int = CHUNK_OVERLAP
) -> DataFrame:
    """Explode each doc into overlapping token windows.

    Chunk ``i`` covers tokens ``[i*stride, i*stride + chunk)`` with
    ``stride = chunk - overlap``; the final chunk is short rather than
    padded; a non-empty doc shorter than ``chunk`` yields exactly one
    chunk; an empty doc yields none.  Emits the chunk's token count and
    md5 fingerprint (not the text — keeps the output narrow; swap the
    fingerprint expression for ``concat_ws`` to materialize text).
    """
    if not 0 <= overlap < chunk:
        raise ValueError("need 0 <= overlap < chunk")
    stride = chunk - overlap
    toks = tokens("text")
    offsets = F.when(
        F.size(toks) > 0,
        F.sequence(F.lit(0), F.greatest(F.size(toks) - overlap - 1, F.lit(0)), F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    chunks = F.transform(offsets, lambda o: F.slice(toks, o + 1, chunk))
    from export_oltp_to_olap_spark.operators.partitioning import spread_for_compute

    return (
        spread_for_compute(docs.select("doc_id", "text"), "doc_id")
        .select("doc_id", F.posexplode(chunks).alias("chunk_index", "chunk_toks"))
        .select(
            "doc_id",
            F.col("chunk_index").cast("long").alias("chunk_index"),
            F.size("chunk_toks").cast("long").alias("n_tokens"),
            F.md5(F.concat_ws(" ", "chunk_toks")).alias("chunk_fp"),
        )
    )


def chunk_documents_sql(chunk: int = CHUNK_TOKENS, overlap: int = CHUNK_OVERLAP) -> str:
    stride = chunk - overlap
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents
),
offs AS (
  SELECT doc_id, t, unnest(range(0, greatest(len(t) - {overlap}, 1), {stride})) AS o
  FROM toks
  WHERE len(t) > 0
)
SELECT doc_id,
       CAST(o // {stride} AS BIGINT) AS chunk_index,
       CAST(len(t[o + 1 : o + {chunk}]) AS BIGINT) AS n_tokens,
       md5(array_to_string(t[o + 1 : o + {chunk}], ' ')) AS chunk_fp
FROM offs
"""


CHUNK_DOCUMENTS_SQL = chunk_documents_sql()


def pack_assignments(
    docs: DataFrame, window: int = PACK_WINDOW, shards: int = 1
) -> DataFrame:
    """Per-doc pack assignment: ``(doc_id, source, shard, bin, start)``.

    Docs are laid end-to-end within each (source, shard) in doc_id
    order; ``start`` is the token offset where the doc begins and
    ``bin = start // window`` the training sequence it starts in (docs
    straddle bin boundaries, exactly like GPT-style packing with
    document crossing).
    """
    from pyspark.sql import Window as W

    n_tok = F.size(tokens("text")).cast("long")
    shard = (
        (_hash_bucket(F.col("doc_id"), "pack") % shards) if shards > 1 else F.lit(0)
    ).cast("int")
    w = (
        W.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        docs.select("doc_id", "source", shard.alias("shard"), n_tok.alias("n_tokens"))
        .withColumn("start", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long"))
        .withColumn("bin", F.floor(F.col("start") / window).cast("long"))
    )


def pack_bins_summary(
    docs: DataFrame, window: int = PACK_WINDOW, shards: int = 1
) -> DataFrame:
    """Per-(source, bin) packing report: docs starting in the bin and
    their total token volume — the shape a batch assembler consumes.
    Registered with shards=1 so bins are globally contiguous per source
    (and SQL-restatable); production uses shards≫1 for parallelism.
    """
    a = pack_assignments(docs, window, shards)
    return (
        a.groupBy("source", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .orderBy("source", "bin")
    )


def pack_bins_summary_sql(window: int = PACK_WINDOW) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
placed AS (
  SELECT doc_id, source, n_tokens,
         CAST(coalesce(SUM(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
  FROM toks
)
SELECT source,
       CAST(start // {window} AS BIGINT) AS bin,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM placed
GROUP BY source, bin
ORDER BY source, bin
"""


PACK_BINS_SQL = pack_bins_summary_sql()


# ---------------------------------------------------------------------------
# Delta maintenance of the packing summary
# ---------------------------------------------------------------------------


def pack_source_totals(docs: DataFrame) -> DataFrame:
    """Per-source total token counts — the CARRY the packing delta
    needs: under append-only ingest (every new doc_id greater than
    every standing one, the engine's standing delta invariant) a new
    doc's global offset is the standing per-source total plus the
    delta-internal prefix sum."""
    return (
        docs.select("source", F.size(tokens("text")).cast("long").alias("n"))
        .groupBy("source")
        .agg(F.sum("n").cast("long").alias("total_tokens"))
    )


def pack_bins_delta(
    new_docs: DataFrame,
    standing_bins: DataFrame,
    standing_totals: DataFrame,
    window: int = PACK_WINDOW,
) -> DataFrame:
    """`pack_bins_summary` for an append-only batch against the
    persisted (source, bin) summary.  Exact: prior docs' offsets, hence
    bins, cannot move under append; a batch doc's offset is the
    standing per-source total plus the batch prefix sum; and the
    per-(source, bin) counts are sums, so the boundary bin that gets
    docs from both batches merges by SUM.  Only the batch is tokenized
    and placed.
    """
    from pyspark.sql import Window as W

    n_tok = F.size(tokens("text")).cast("long")
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    delta = (
        new_docs.select("doc_id", "source", n_tok.alias("n_tokens"))
        .withColumn("rel", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .join(F.broadcast(standing_totals), "source", "left")
        .withColumn(
            "start",
            (F.col("rel") + F.coalesce(F.col("total_tokens"), F.lit(0))).cast(
                "long"
            ),
        )
        .withColumn("bin", F.floor(F.col("start") / window).cast("long"))
    )
    delta_summary = delta.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    return maintain_monoid(
        standing_bins, ["source", "bin"], ["n_docs", "n_tokens"], added=delta_summary
    ).orderBy("source", "bin")


def pack_bins_delta_fixture(docs: DataFrame, window: int = PACK_WINDOW) -> DataFrame:
    """Fixture face: the shared append batch; standing summary and carry
    derive in-call (persisted in production).  Oracle = the
    full-rebuild SQL."""
    standing, new_docs = split_at_cut(docs)
    return pack_bins_delta(
        new_docs,
        pack_bins_summary(standing, window),
        pack_source_totals(standing),
        window,
    )


# ---------------------------------------------------------------------------
# Delete maintenance of the packing carry
# ---------------------------------------------------------------------------
#
# The per-(source, bin) SUMMARY is not delete-maintainable by
# subtraction — removing a doc shifts every later offset in its
# (source, shard) lane, which is a re-pack of the lane tail, not a
# monoid op.  The per-source CARRY (doc and token totals) IS a pure
# additive monoid, and it is the state the delta path actually consumes
# (`pack_bins_delta`'s standing_totals): keeping it delete-exact keeps
# the append path exact after compaction re-packs the affected lanes.


def pack_source_state(docs: DataFrame) -> DataFrame:
    """The delete-aware form of the packing carry: per-source doc and
    token totals ``(source, n_docs, total_tokens)``.  Superset of
    :func:`pack_source_totals` (which the append delta consumes) —
    the doc count is what makes zero-row cleanup exact: a source
    leaves the table when its last DOC dies, not when its token sum
    happens to reach zero (all-empty-text sources keep their row,
    exactly as the rebuild does)."""
    return (
        docs.select("source", F.size(tokens("text")).cast("long").alias("n"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n").cast("long").alias("total_tokens"),
        )
    )


def pack_source_totals_retract(
    deleted_docs: DataFrame, standing_state: DataFrame
) -> DataFrame:
    """Delete maintenance of the packing carry: subtract the tombstoned
    docs' own per-source counts and sums; a source leaves when its doc
    count reaches zero.  Tokenizes the deleted docs only."""
    return maintain_monoid(
        standing_state,
        ["source"],
        ["n_docs", "total_tokens"],
        removed=pack_source_state(deleted_docs),
    ).orderBy("source")


def pack_totals_retract_fixture(docs: DataFrame) -> DataFrame:
    """Fixture face: the shared delete batch; standing carry derives
    in-call (persisted in production).  Oracle = the rebuild
    aggregation over the survivors."""
    return pack_source_totals_retract(tombstoned(docs), pack_source_state(docs))


PACK_TOTALS_RETRACT_SQL = f"""
WITH {SURVIVORS_CTE},
toks AS (
  SELECT source,
         CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM survivors
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM toks
GROUP BY source
ORDER BY source
""".strip()
