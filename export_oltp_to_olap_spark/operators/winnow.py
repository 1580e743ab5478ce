"""Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003).

The MOSS algorithm: slide a window of ``w`` consecutive k-gram hashes
over each document and keep the window minimum — the selected (hash,
position) pairs are the document's fingerprint set.  Guarantees (§2 of
the paper): any shared substring of at least ``w + k - 1`` tokens
contributes at least one IDENTICAL fingerprint hash to both documents,
and the expected density of selected positions is ``2 / (w + 1)`` — a
tunable, position-robust sketch that exact/MinHash/SimHash dedup does
not provide (those fingerprint the WHOLE document; winnowing
fingerprints localize, which is what plagiarism/clone detection needs).

Selection rule: this implementation takes the LEFTMOST minimum of each
window, keyed lexicographically on ``md5(gram) || ':' || zero-padded
position`` — position uniqueness makes the key total, so ties cannot
exist and Spark and the DuckDB oracle select bit-identical fingerprint
sets (the paper's "rightmost" tie rule matters only for hash functions
with frequent ties; md5 ties are ~2^-128).  Documents with fewer than
``w`` windows but at least one gram fall back to their global minimum
(one fingerprint), the standard short-document convention.

Shape (all built-in expressions — no UDFs anywhere):

1. ``posexplode`` the positional k-gram array → ``(doc_id, pos, h)``.
2. One per-doc window pass: ``min(key) OVER (ORDER BY pos ROWS BETWEEN
   CURRENT ROW AND w-1 FOLLOWING)`` at every FULL window start.
3. DISTINCT selected keys → the fingerprint set.
4. Report face: per-doc fingerprint count, density, and how many OTHER
   documents share at least one fingerprint hash (the clone signal) via
   one self-join on the 32-char hash.

Scale (100 TB): the window pass partitions by doc_id (perfectly
distributed, one shuffle); the fingerprint set is ~2/(w+1) of the gram
stream, so the clone-signal self-join moves a small fraction of the
corpus.  Boilerplate hashes shared by M documents (license headers,
navigation chrome) would contribute M² rows on ONE join key — so the
clone signal df-caps them: hashes whose document frequency exceeds
``max_hash_df`` (default ``CLONE_SIGNAL_MAX_DF``) are excluded from the
join and surfaced per-doc as ``capped_hashes``, making the truncation
visible instead of silent.  Join input is then bounded by
Σ_{df ≤ cap} df² ≤ cap · Σ df = cap · |fingerprint rows| — linear in
the corpus, never quadratic in a hot key (growth pinned in
tests/test_scale_growth.py on a crafted boilerplate-heavy corpus).

Reference parity: none — the reference engine has no corpus operators;
north-star extension per the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from export_oltp_to_olap_spark.functions.text import word_shingles
from export_oltp_to_olap_spark.operators.diff import (
    DELTA_CUT_FRACTION,
    SURVIVORS_CTE,
    split_at_cut,
    tombstoned,
)
from export_oltp_to_olap_spark.operators.partitioning import spread_for_compute

# Fixture constants: k-gram width matches the decontamination fixture
# reasoning (short synthetic docs); w=5 ⇒ any shared passage of
# ≥ w+k-1 = 8 tokens is guaranteed to share a fingerprint, expected
# density 2/(w+1) = 1/3.
FINGERPRINT_K = 4
FINGERPRINT_W = 5

_POS_PAD = 10  # zero-pad width: string order == numeric order

# Clone-signal df cap: fingerprint hashes present in MORE documents than
# this are boilerplate (license headers, templates), not clone evidence —
# they are dropped from the shared-docs join (bounding its fan-out to
# cap·|fps| rows) and counted per doc as ``capped_hashes``.  Fixture
# corpora peak at df = 6 (sf0.1), so the default changes nothing there;
# at web scale it is the difference between a linear join and an M²
# blow-up on one hot key.
CLONE_SIGNAL_MAX_DF = 1000


def _selected_keys(
    docs: DataFrame,
    k: int,
    w: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Distinct selected ``(id, key, maxpos)`` rows — the one winnowing
    pass both public faces consume.  ``maxpos`` rides along because
    ``maxpos + 1`` IS the doc's gram count (posexplode positions are
    dense): the report face gets its denominator for free instead of
    re-tokenizing the corpus in a second branch Catalyst cannot merge."""
    grams = (
        spread_for_compute(docs.select(id_col, text_col), id_col)
        .select(
            F.col(id_col),
            F.posexplode(word_shingles(text_col, k)).alias("pos", "gram"),
        )
        .select(
            id_col,
            "pos",
            F.concat(
                F.md5("gram"),
                F.lit(":"),
                F.lpad(F.col("pos").cast("string"), _POS_PAD, "0"),
            ).alias("key"),
        )
    )
    win_w = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    win_doc = Window.partitionBy(id_col)
    keyed = grams.withColumn("wmin", F.min("key").over(win_w)).withColumn(
        "maxpos", F.max("pos").over(win_doc)
    )
    # Full windows start at pos ≤ maxpos-(w-1).  Short docs (< w grams)
    # have no full window; their fallback is the global minimum — which
    # IS the pos-0 window min, because the frame clips at the partition
    # end.  One predicate covers both, so no union (a union of two
    # identically-partitioned branches also trips SPARK's union-
    # partitioning propagation into a zip-partitions mismatch in the
    # downstream self-join — concat doubles the partition count while
    # the claimed hash partitioning survives).
    sel = keyed.where(
        (F.col("pos") <= F.col("maxpos") - (w - 1))
        | ((F.col("maxpos") < w - 1) & (F.col("pos") == 0))
    ).select(id_col, F.col("wmin").alias("key"), "maxpos")
    return sel.distinct()


def winnowing_fingerprints(
    docs: DataFrame,
    k: int = FINGERPRINT_K,
    w: int = FINGERPRINT_W,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc winnowing fingerprint set: ``(doc_id, fp_pos, fp_hash)``.

    ``fp_hash`` is the md5 of the k-gram at ``fp_pos`` — the unit that
    matches across documents.  Documents with no k-gram (fewer than
    ``k`` tokens) produce no rows.
    """
    return _selected_keys(docs, k, w, id_col, text_col).select(
        F.col(id_col),
        F.substring("key", 34, _POS_PAD).cast("int").alias("fp_pos"),
        F.substring("key", 1, 32).alias("fp_hash"),
    )


def fingerprint_report(
    docs: DataFrame,
    k: int = FINGERPRINT_K,
    w: int = FINGERPRINT_W,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hash_df: int = CLONE_SIGNAL_MAX_DF,
) -> DataFrame:
    """Per-doc fingerprint summary + clone signal.

    ``(doc_id, n_grams, n_fps, density, shared_docs, capped_hashes)``
    where ``density`` is the selected fraction of gram positions
    (expectation 2/(w+1)), ``shared_docs`` counts OTHER documents
    sharing at least one non-boilerplate fingerprint hash (document
    frequency ≤ ``max_hash_df``) — the winnowing clone-detection signal
    — and ``capped_hashes`` counts the doc's hashes excluded as
    boilerplate, so truncation is visible.
    """
    sel = _selected_keys(docs, k, w, id_col, text_col)
    return _report_from_selected(sel, None, id_col, max_hash_df)


def _report_from_selected(
    sel: DataFrame,
    standing_fph: DataFrame | None,
    id_col: str,
    max_hash_df: int = CLONE_SIGNAL_MAX_DF,
) -> DataFrame:
    """The report body both faces share: per-doc counts from the
    selected keys, clone signal against (standing ∪ these docs) — the
    batch face is exactly the delta face with an empty standing table.

    Per-doc counts come from ONE agg over ``sel`` (every doc with ≥ 1
    gram has ≥ 1 selected key, and ``n_grams = maxpos + 1`` — no second
    tokenization pass).  The clone signal joins DISTINCT (doc, hash)
    pairs: a hash selected at p positions in one doc and q in another
    must contribute ONE pair, not p·q join rows.  Hashes hotter than
    ``max_hash_df`` documents are dropped from BOTH join sides (join
    input bounded by cap·|fps| — the `ngram_jaccard_pairs` df-cap
    pattern) and reported per doc as ``capped_hashes``; ``hot`` is at
    most |fps|/cap rows, so AQE broadcasts the anti-joins."""
    # The selected-key frame now feeds FIVE consumers (per-doc counts,
    # both clone-join sides, the df aggregate, the capped count) — stage
    # it once or the winnowing window pass re-runs per consumer
    # (measured: the df-cap's extra consumers pushed the sf0.1 report
    # 0.70 → 0.97 s unstaged; staged it is back under the r7 time).
    from export_oltp_to_olap_spark.operators.staging import stage_fanout

    sel = stage_fanout(sel)
    per_doc = sel.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_fps"),
        (F.max("maxpos") + 1).alias("n_grams"),
    )
    fph = sel.select(
        F.col(id_col), F.substring("key", 1, 32).alias("fp_hash")
    ).distinct()
    fph_all = (
        fph
        if standing_fph is None
        else standing_fph.select(id_col, "fp_hash").unionByName(fph)
    )
    # Document frequency over the FULL probe universe (standing ∪ new):
    # a hash is boilerplate no matter which side its copies live on.
    hot = (
        fph_all.groupBy("fp_hash")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > max_hash_df)
        .select("fp_hash")
    )
    capped = (
        fph.join(hot, "fp_hash", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("capped_hashes"))
    )
    other = fph_all.join(hot, "fp_hash", "left_anti").select(
        F.col(id_col).alias("other_id"), F.col("fp_hash").alias("other_hash")
    )
    shared = (
        fph.join(hot, "fp_hash", "left_anti")
        .join(
            other,
            (F.col("fp_hash") == F.col("other_hash"))
            & (F.col(id_col) != F.col("other_id")),
        )
        .groupBy(id_col)
        .agg(F.countDistinct("other_id").alias("shared_docs"))
    )
    return (
        per_doc.join(shared, id_col, "left")
        .join(capped, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("n_fps").cast("long").alias("n_fps"),
            F.round(F.col("n_fps") / F.col("n_grams"), 6).alias("density"),
            F.coalesce(F.col("shared_docs"), F.lit(0)).cast("long").alias("shared_docs"),
            F.coalesce(F.col("capped_hashes"), F.lit(0))
            .cast("long")
            .alias("capped_hashes"),
        )
        .orderBy(id_col)
    )


def fingerprint_delta_report(
    new_docs: DataFrame,
    standing_fph: DataFrame,
    k: int = FINGERPRINT_K,
    w: int = FINGERPRINT_W,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hash_df: int = CLONE_SIGNAL_MAX_DF,
) -> DataFrame:
    """`fingerprint_report` for an append-only delta batch against a
    standing corpus — incremental ≡ rebuild-restricted-to-delta-ids.

    Winnowing is per-document, so the delta's fingerprints need ONLY the
    delta (nothing re-tokenizes the standing corpus); the clone signal
    probes the delta's hashes against ``standing_fph`` — the persistable
    ``(doc_id, fp_hash)`` side table `standing_fingerprints` derives —
    plus the delta's own hashes.  Steady-state batch cost is
    O(|delta|) fingerprinting + one hash join whose stream side is the
    delta's fingerprint set, never the corpus.
    """
    sel = _selected_keys(new_docs, k, w, id_col, text_col)
    return _report_from_selected(sel, standing_fph, id_col, max_hash_df)


def standing_fingerprints(
    docs: DataFrame,
    k: int = FINGERPRINT_K,
    w: int = FINGERPRINT_W,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The persistable ``(doc_id, fp_hash)`` side table the delta face
    probes — in production this is written once and appended per batch
    (the `ngram_shingle_sets` pattern)."""
    return (
        winnowing_fingerprints(docs, k, w, id_col, text_col)
        .select(id_col, "fp_hash")
        .distinct()
    )


def winnow_candidate_pairs(
    docs: DataFrame,
    k: int = FINGERPRINT_K,
    w: int = FINGERPRINT_W,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hash_df: int = CLONE_SIGNAL_MAX_DF,
) -> DataFrame:
    """Distinct ``(doc_a, doc_b)`` pairs (doc_a < doc_b) sharing at
    least one non-boilerplate fingerprint hash — the candidate stage of
    the clone signal, exposed as a pair set so the family recall audit
    (`neardup.winnow_recall_audit`) can diff it cross-engine.

    The r11 minhash banding fix is the motivation on record: a
    candidate-set misalignment hid for ten rounds behind ≥0.8-verified
    outputs, and this was the one lexical candidate generator whose raw
    pair set was never compared against the oracle.  Same df-cap as
    `fingerprint_report`'s ``shared_docs`` (hot hashes leave the join),
    so the pair volume is bounded by cap·|fingerprint rows|.
    """
    fph = standing_fingerprints(docs, k, w, id_col, text_col)
    hot = (
        fph.groupBy("fp_hash")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > max_hash_df)
        .select("fp_hash")
    )
    cold = fph.join(hot, "fp_hash", "left_anti")
    a = cold.select(F.col(id_col).alias("doc_a"), F.col("fp_hash").alias("h"))
    b = cold.select(F.col(id_col).alias("doc_b"), F.col("fp_hash").alias("h"))
    return (
        a.join(b, on=[a.h == b.h, F.col("doc_a") < F.col("doc_b")])
        .select("doc_a", "doc_b")
        .distinct()
    )


def winnow_candidate_ctes(
    k: int = FINGERPRINT_K,
    w: int = FINGERPRINT_W,
    max_hash_df: int = CLONE_SIGNAL_MAX_DF,
) -> str:
    """The DuckDB CTE chain producing `winnow_candidate_pairs`' pair set
    as a ``candidates (doc_a, doc_b)`` CTE.  Consumes a ``toks`` CTE
    (doc_id, t token array) the caller must provide — the family audit
    composes this with `neardup.shingle_cte()`, whose ``toks`` is the
    same tokenization, so the truth and candidate stages tokenize
    identically by construction.  All other names are ``w``-prefixed to
    stay collision-free."""
    return f"""
wgrams AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(t[i:i+{k - 1}], ' ')) AS h
  FROM toks, unnest(generate_series(1, greatest(len(t) - {k - 1}, 0))) AS u(i)
),
wkeyed AS (
  SELECT doc_id, pos,
         max(pos) OVER (PARTITION BY doc_id) AS maxpos,
         min(h || ':' || lpad(CAST(pos AS VARCHAR), {_POS_PAD}, '0'))
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS wmin
  FROM wgrams
),
wfph AS (
  SELECT DISTINCT doc_id, substr(wmin, 1, 32) AS fp_hash FROM wkeyed
  WHERE pos <= maxpos - {w - 1} OR (maxpos < {w - 1} AND pos = 0)
),
whot AS (
  SELECT fp_hash FROM wfph GROUP BY fp_hash HAVING count(*) > {max_hash_df}
),
candidates AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM wfph a JOIN wfph b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
  WHERE a.fp_hash NOT IN (SELECT fp_hash FROM whot)
)
""".strip()


def fingerprint_delta_fixture(docs: DataFrame) -> DataFrame:
    """Fixture face: the shared append batch; standing fingerprints
    derive in-call (persisted in production)."""
    old_docs, new_docs = split_at_cut(docs)
    return fingerprint_delta_report(new_docs, standing_fingerprints(old_docs))


def winnowing_sql(
    k: int = FINGERPRINT_K,
    w: int = FINGERPRINT_W,
    final_where: str = "",
    max_hash_df: int = CLONE_SIGNAL_MAX_DF,
) -> str:
    """DuckDB restatement of `fingerprint_report` at the same (k, w,
    max_hash_df) — including the boilerplate df-cap and the
    ``capped_hashes`` visibility column.

    ``final_where`` restricts the FINAL select (e.g. to delta ids) while
    the fingerprint/clone computation still sees the whole corpus — the
    incremental ≡ rebuild oracle shape."""
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(t[i:i+{k - 1}], ' ')) AS h
  FROM toks, unnest(generate_series(1, greatest(len(t) - {k - 1}, 0))) AS u(i)
),
keyed AS (
  SELECT doc_id, pos, h || ':' || lpad(CAST(pos AS VARCHAR), {_POS_PAD}, '0') AS key,
         max(pos) OVER (PARTITION BY doc_id) AS maxpos,
         min(h || ':' || lpad(CAST(pos AS VARCHAR), {_POS_PAD}, '0'))
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS wmin
  FROM grams
),
sel AS (
  -- full windows, plus the short-doc fallback: the pos-0 window min IS
  -- the global min when fewer than w grams exist (the frame clips)
  SELECT doc_id, wmin AS key FROM keyed
  WHERE pos <= maxpos - {w - 1} OR (maxpos < {w - 1} AND pos = 0)
),
fps AS (
  -- fingerprints are (hash, position) pairs (the paper's unit); a doc
  -- repeating a boilerplate gram keeps one fingerprint PER position
  SELECT DISTINCT doc_id, key FROM sel
),
fph AS (SELECT DISTINCT doc_id, substr(key, 1, 32) AS fp_hash FROM fps),
-- boilerplate df-cap: hashes in more than {max_hash_df} docs leave the
-- clone join (bounded fan-out) and surface per doc as capped_hashes
hot AS (
  SELECT fp_hash FROM fph GROUP BY fp_hash HAVING count(*) > {max_hash_df}
),
capped AS (
  SELECT doc_id, count(*) AS capped_hashes FROM fph
  WHERE fp_hash IN (SELECT fp_hash FROM hot) GROUP BY doc_id
),
gram_counts AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
per_doc AS (SELECT doc_id, count(*) AS n_fps FROM fps GROUP BY doc_id),
shared AS (
  SELECT a.doc_id, count(DISTINCT b.doc_id) AS shared_docs
  FROM fph a JOIN fph b ON a.fp_hash = b.fp_hash AND a.doc_id <> b.doc_id
  WHERE a.fp_hash NOT IN (SELECT fp_hash FROM hot)
  GROUP BY a.doc_id
)
SELECT g.doc_id,
       CAST(g.n_grams AS BIGINT) AS n_grams,
       CAST(p.n_fps AS BIGINT) AS n_fps,
       round(p.n_fps / CAST(g.n_grams AS DOUBLE), 6) AS density,
       CAST(COALESCE(s.shared_docs, 0) AS BIGINT) AS shared_docs,
       CAST(COALESCE(c.capped_hashes, 0) AS BIGINT) AS capped_hashes
FROM gram_counts g
JOIN per_doc p USING (doc_id)
LEFT JOIN shared s USING (doc_id)
LEFT JOIN capped c USING (doc_id)
{final_where}
ORDER BY doc_id
""".strip()


WINNOWING_SQL = winnowing_sql()

FINGERPRINT_DELTA_SQL = winnowing_sql(
    final_where=(
        "WHERE g.doc_id > (SELECT CAST(floor("
        f"{DELTA_CUT_FRACTION} * max(doc_id)) AS BIGINT) FROM documents)"
    )
)


# ---------------------------------------------------------------------------
# Stateless array formulation — the streaming-safe twin
# ---------------------------------------------------------------------------


def fingerprint_entries(
    text_col: str = "text", k: int = FINGERPRINT_K, w: int = FINGERPRINT_W
):
    """The winnowing selection as ONE pure column expression:
    ``array<struct<fp_pos int, fp_hash string>>`` per document.

    Winnowing is per-document, so the whole selection fits in array
    expressions (transform + slice + array_min) with no window function
    and no shuffle — which makes it STREAMING-SAFE in append mode with
    zero state (non-time window functions are not allowed on streaming
    DataFrames, so the batch formulation cannot stream).  Selection is
    definitionally identical to `_selected_keys`: min key of every full
    w-window, global min for shorter docs, distinct — the equivalence
    test pins it row-for-row.
    """
    grams = word_shingles(text_col, k)
    keys = F.transform(
        grams,
        lambda g, i: F.concat(
            F.md5(g), F.lit(":"), F.lpad(i.cast("string"), _POS_PAD, "0")
        ),
    )
    n = F.size(keys)
    full = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), n - w),
            lambda i: F.array_min(F.slice(keys, i + 1, w)),
        )
    )
    selected = (
        F.when(n >= w, full)
        .when(n >= 1, F.array(F.array_min(keys)))
        .otherwise(F.array().cast("array<string>"))
    )
    return F.transform(
        selected,
        lambda key: F.struct(
            F.substring(key, 34, _POS_PAD).cast("int").alias("fp_pos"),
            F.substring(key, 1, 32).alias("fp_hash"),
        ),
    )


def streaming_fingerprints(
    docs: DataFrame,
    k: int = FINGERPRINT_K,
    w: int = FINGERPRINT_W,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id, fp_pos, fp_hash)`` over a (doc_id, text) stream —
    stateless map-side winnowing, append-mode-safe with no watermark and
    no state store.  In a pipeline the sink appends these rows to the
    standing fingerprint table (`standing_fingerprints`' layout), which
    `fingerprint_delta_report` then probes per delta batch."""
    entries = fingerprint_entries(text_col, k, w)
    return docs.select(F.col(id_col), F.explode(entries).alias("e")).select(
        id_col, F.col("e.fp_pos").alias("fp_pos"), F.col("e.fp_hash").alias("fp_hash")
    )


# ---------------------------------------------------------------------------
# Delete maintenance of the standing fingerprint table
# ---------------------------------------------------------------------------


def winnow_fingerprints_retract(
    deleted_ids: DataFrame, standing_fph: DataFrame
) -> DataFrame:
    """Delete maintenance of the persisted ``(doc_id, fp_hash)`` side
    table the delta path probes (`standing_fingerprints`): winnowing is
    per-document, so deletes remove exactly the tombstoned docs' rows —
    one doc_id anti-join, no re-fingerprinting.  The oracle (the full
    winnowing pipeline over the survivors) checks anti-join ≡
    re-fingerprint."""
    d = deleted_ids.select("doc_id").distinct()
    return standing_fph.join(d, "doc_id", "left_anti").orderBy(
        "doc_id", "fp_hash"
    )


def winnow_retract_fixture(docs: DataFrame) -> DataFrame:
    """Fixture face: the shared delete batch; the standing fingerprint
    table derives in-call (persisted and appended per batch in
    production)."""
    return winnow_fingerprints_retract(
        tombstoned(docs.select("doc_id")), standing_fingerprints(docs)
    )


def _winnow_retract_sql() -> str:
    """The full winnowing fingerprint pipeline over the survivors: the
    shared candidate CTE chain truncated at ``wfph`` (the anchor pin
    raises at import if the fragment shape drifts, the
    `semdedup_retract_sql` discipline)."""
    chain = winnow_candidate_ctes()
    anchor = ",\nwhot AS"
    if chain.count(anchor) != 1:
        raise ValueError(
            "winnow_fingerprints_retract oracle: expected exactly one "
            f"whot CTE in the candidate chain, found {chain.count(anchor)}"
        )
    fph_ctes = chain.split(anchor, 1)[0]
    return f"""
WITH {SURVIVORS_CTE},
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM survivors
),
{fph_ctes}
SELECT doc_id, fp_hash
FROM wfph
ORDER BY doc_id, fp_hash
""".strip()


WINNOW_RETRACT_SQL = _winnow_retract_sql()
