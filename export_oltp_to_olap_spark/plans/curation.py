"""End-to-end corpus curation: the composed training-data pipeline.

One query chaining the pipeline a pretraining corpus actually runs —
language gate → quality gate → exact dedup → near-dup drop →
deterministic split — and reporting the per-split yield.  Every stage
is an operator that already exists (and is individually
oracle-checked); this registers the COMPOSITION, because the failure
mode of a pipeline is rarely one stage: it's stage coupling (a dedup
that reorders rows and breaks a downstream hash split, a filter that
changes a near-dup candidate set).

Stage order matters and is the standard one:
1. language + quality gates first — cheap per-row expressions drop
   ~30 % of rows before anything that shuffles;
2. exact dedup (hash-groupBy on text, min-doc_id keeper);
3. n-gram near-dup drop (prefix-filtered AllPairs join on survivors
   only; lower-id-wins, the LWW convention used everywhere);
4. hash-range split assignment (stable under re-partition/append) and
   the per-split yield report.

Three faces of the same chain, all sharing the stage operators and one
SQL CTE restatement (`_pipeline_ctes`):
* :func:`corpus_curation_summary` — per-split yield report;
* :func:`curation_audit` — per-document provenance ledger (who died at
  which stage, and which keeper holds the slot);
* :func:`curated_delta` / :func:`incremental_corpus_delta` — append-only
  delta batches curated against the standing corpus, provably ≡ the
  full rebuild restricted to delta ids.

Scale: gates are zero-shuffle; dedup is one hash-groupBy; the
prefix-filter pair join is the measured-subquadratic path
(`operators/neardup.py`); split+summary is one final agg.  Nothing in
the plan is O(N²) or driver-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from export_oltp_to_olap_spark.functions.text import (
    LANG_MARKERS,
    lang_predict,
    quality_score,
    sql_lang_count,
    tokens,
)
from export_oltp_to_olap_spark.operators.diff import (
    DELTA_CUT_FRACTION,
    SURVIVORS_CTE,
    split_at_cut,
    tombstoned,
)
from export_oltp_to_olap_spark.operators.neardup import (
    ngram_jaccard_pairs,
    ngram_jaccard_pairs_delta,
    ngram_jaccard_pairs_touching,
    ngram_shingle_sets,
)
from export_oltp_to_olap_spark.operators.sampling import assign_splits
from export_oltp_to_olap_spark.operators.staging import stage, stage_fanout

QUALITY_MIN = 0.45
NEARDUP_THRESHOLD = 0.7


def curated_docs(docs: DataFrame, checkpoint: bool = True) -> DataFrame:
    """Gate + exact-dedup stages: (doc_id, text, quality) survivors.

    With ``checkpoint`` (the default) the curated set is materialized
    ONCE before any fan-out: the near-dup pair join and the yield
    report each consume it through different projections/partitionings,
    and without a stage boundary Catalyst re-derives the whole regex
    gate chain per branch (measured: 18 document scans, 234 regexp
    nodes in the executed plan).  HOW it materializes follows the
    ``spark.export_oltp.staging`` conf via :func:`stage_fanout`
    (operators/staging.py): cache under the default single-process
    conf — keeps lineage + stats, measured 2.2× faster than
    localCheckpoint on this face — and ``checkpoint``/``table`` on a
    cluster, where ``table`` is exactly the "staged curated corpus as
    a real table" form a 100 TB pipeline wants.  ``checkpoint=False``
    keeps the pure lineage for plan inspection.
    """
    w = Window.partitionBy("text")
    deduped = (
        _gated(docs)
        .withColumn("min_id", F.min("doc_id").over(w))
        .where(F.col("doc_id") == F.col("min_id"))
        .drop("min_id", "pred_lang")
    )
    return stage_fanout(deduped) if checkpoint else deduped


def _gated(docs: DataFrame) -> DataFrame:
    """The shared lang+quality gate: (doc_id, text, quality, pred_lang)
    survivors — per-row expressions only, zero shuffle."""
    return (
        docs.select("doc_id", "text")
        .withColumn("quality", quality_score("text"))
        .withColumn("pred_lang", lang_predict("text"))
        .where((F.col("pred_lang") == "en") & (F.col("quality") >= QUALITY_MIN))
    )


def _curated_kept(docs: DataFrame) -> DataFrame:
    """Gates + exact dedup + near-dup drop — the kept rows BEFORE split
    assignment: (doc_id, text, quality).  Shared by the plain and the
    decontaminated curation faces."""
    deduped = curated_docs(docs)
    dropped = (
        ngram_jaccard_pairs(deduped, n=3, threshold=NEARDUP_THRESHOLD)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return deduped.join(dropped, "doc_id", "left_anti")


def curated_corpus(
    docs: DataFrame,
    eval_docs: DataFrame | None = None,
    eval_hashes=None,
) -> DataFrame:
    """The full curation chain's OUTPUT rows: (doc_id, text, quality,
    split) — gates, exact dedup, near-dup drop, split assignment.  The
    yield report aggregates this; the corpus EXPORT (`cli.py
    export-corpus`) ships it.

    ``eval_docs`` / ``eval_hashes`` (either, not both needed): insert
    the eval-n-gram decontamination stage before split assignment —
    ``eval_hashes`` is the persisted standing artifact
    (`decontam.eval_gram_hashes` / `load_eval_hashes`), the
    compute-once/reuse-per-batch form `cli.py export-corpus
    --eval-hashes` drives."""
    kept = _curated_kept(docs)
    if eval_docs is not None or eval_hashes is not None:
        from export_oltp_to_olap_spark.operators.decontam import flag_contaminated

        kept = (
            flag_contaminated(kept, eval_docs, eval_hashes=eval_hashes)
            .where(~F.col("contaminated"))
            .drop("contaminated")
        )
    return assign_splits(kept, "doc_id")


def fixture_eval_docs(docs: DataFrame) -> DataFrame:
    """The stand-in external benchmark set for the self-contained
    fixture faces: the ``test`` hash split of the RAW corpus (the
    `decontam.decontaminate_docs` convention).  Production callers pass
    their real benchmark DataFrame instead."""
    return (
        assign_splits(docs.select("doc_id", "text"), "doc_id")
        .where(F.col("split") == "test")
        .drop("split")
    )


def curated_corpus_decontaminated(
    docs: DataFrame,
    eval_docs: DataFrame | None = None,
    eval_hashes=None,
) -> DataFrame:
    """The curation chain WITH the decontamination stage every real
    pretraining pipeline runs before split assignment: gates → exact
    dedup → near-dup drop → eval-n-gram decontamination → split.
    Output (doc_id, quality, split) ordered by doc_id.

    Decontamination uses the stateless broadcast flag
    (`operators/decontam.flag_contaminated`): the eval suite's distinct
    n-gram hashes ship once to executors, membership is one vectorized
    probe per Arrow batch — map-side, no shuffle, O(corpus) regardless
    of eval size (bounded by MAX_EVAL_GRAMS).  Pass ``eval_hashes``
    (`decontam.eval_gram_hashes` output — the persisted standing
    artifact) to skip recomputing the eval set per run; ``eval_docs``
    derives it in-call; with neither, the fixture stand-in benchmark
    (:func:`fixture_eval_docs`) is used so the registered face is
    self-contained and oracle-checkable.

    Because the split is a per-doc hash, decontaminating before or
    after assignment yields identical rows — the oracle filters the
    shared ``assigned`` CTE by the same eval-gram collision set.
    """
    if eval_hashes is None and eval_docs is None:
        eval_docs = fixture_eval_docs(docs)
    return (
        curated_corpus(docs, eval_docs=eval_docs, eval_hashes=eval_hashes)
        .select("doc_id", "quality", "split")
        .orderBy("doc_id")
    )


def curated_corpus_rewritten(docs: DataFrame) -> DataFrame:
    """The curation chain with SURGICAL decontamination: gates → exact
    dedup → near-dup drop → split assignment → eval-colliding windows
    CUT from the text (`decontam.strip_contaminated_spans`) instead of
    dropping the document — what a pipeline runs when admitted docs are
    mostly clean but quote benchmark items (Llama-2 §A.6).

    Output per ADMITTED doc: ``(doc_id, quality, split, n_tokens,
    removed_tokens, clean_text)`` ordered by doc_id — the driver hash
    pins every admitted document's post-rewrite text alongside its
    curation verdicts.  Docs the gates/dedup dropped don't appear;
    contaminated docs now DO, with their quotes removed.  The rewrite
    probes only the train/val splits: under the fixture convention the
    eval set IS the raw test split, so an admitted test-split doc's
    text is its own "benchmark quote" and an unrestricted rewrite
    would remove its entire token stream (ADVICE r8) — test-split rows
    pass through normalized, never cut.

    Scale: the curation stages are the existing chain; the rewrite adds
    one broadcast probe over the admitted docs' positional grams and
    the linear-in-removed-text rebuild.
    """
    from export_oltp_to_olap_spark.operators.decontam import (
        FIXTURE_N,
        strip_contaminated_spans,
    )

    assigned = assign_splits(_curated_kept(docs), "doc_id")
    stripped = strip_contaminated_spans(
        assigned.select("doc_id", "text"),
        fixture_eval_docs(docs),
        n=FIXTURE_N,
        rewrite_docs=assigned.where(F.col("split") != "test").select(
            "doc_id", "text"
        ),
    )
    return (
        assigned.select("doc_id", "quality", "split")
        .join(stripped, "doc_id")
        .select(
            "doc_id", "quality", "split", "n_tokens", "removed_tokens", "clean_text"
        )
        .orderBy("doc_id")
    )


def _rewritten_sql() -> str:
    """Oracle for :func:`curated_corpus_rewritten`: the shared pipeline
    CTEs through ``assigned``, then the decontamination REWRITE — eval
    md5 grams (raw test split, the decontam fixture convention),
    positional grams over the admitted docs, and the shared strip tail
    (`substring.strip_tail_ctes`) with a final select that carries the
    curation verdicts."""
    from export_oltp_to_olap_spark.operators.decontam import FIXTURE_N, _VAL_BOUND
    from export_oltp_to_olap_spark.operators.substring import strip_tail_ctes

    n = FIXTURE_N
    return f"""
WITH {_pipeline_ctes()},
ktoks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM assigned
),
eval_grams AS (
  SELECT DISTINCT md5(array_to_string(t[i:i+{n - 1}], ' ')) AS g
  FROM (SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS t
        FROM documents
        WHERE CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4)
                   AS INTEGER) >= {_VAL_BOUND}) e,
       unnest(generate_series(1, greatest(len(t) - {n - 1}, 0))) AS u(i)
),
pos_grams AS (
  SELECT doc_id, i AS pos, md5(array_to_string(t[i:i+{n - 1}], ' ')) AS g
  FROM ktoks, unnest(generate_series(1, greatest(len(t) - {n - 1}, 0))) AS u(i)
),
win AS (
  -- probe only train/val docs: test-split rows ARE the fixture eval
  -- set, so probing them would self-annihilate their token streams
  SELECT DISTINCT p.doc_id, p.pos
  FROM pos_grams p
  JOIN eval_grams USING (g)
  JOIN assigned a ON a.doc_id = p.doc_id AND a.split <> 'test'
),
{strip_tail_ctes(n, toks_cte="ktoks")}
SELECT a.doc_id, a.quality, a.split,
       CAST(len(k.t) AS BIGINT) AS n_tokens,
       CAST(len(k.t) - COALESCE(r.kept_tokens, 0) AS BIGINT) AS removed_tokens,
       COALESCE(r.clean_text, '') AS clean_text
FROM assigned a
JOIN ktoks k USING (doc_id)
LEFT JOIN rebuilt r USING (doc_id)
ORDER BY a.doc_id
""".strip()


# NOTE: CURATED_REWRITTEN_SQL is assigned after _pipeline_ctes is
# defined (bottom of the module) — _rewritten_sql calls it at build time.


def standing_state(
    old_docs: DataFrame, mode: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """Build the two persisted artifacts the steady-state ingest path
    maintains: the curated-stage survivor table (gate + exact-dedup,
    PRE near-dup — old near-dup victims must stay visible as witnesses)
    and its shingle-set side table.  Production writes these once and
    appends each admitted batch; this helper is the bootstrap — and,
    staged as real tables (``mode='table'``), the bench's untimed setup
    for the delta face.
    """
    curated = stage(curated_docs(old_docs, checkpoint=False), mode=mode)
    sets = stage(ngram_shingle_sets(curated.select("doc_id", "text"), n=3), mode=mode)
    return curated, sets


def curated_delta(
    old_docs: DataFrame | None,
    delta_docs: DataFrame,
    standing_curated: DataFrame | None = None,
    standing_sets: DataFrame | None = None,
    eval_hashes=None,
) -> DataFrame:
    """Incremental curation: admit or reject ONLY the delta batch —
    output ≡ ``curated_corpus(old ∪ delta)`` restricted to delta ids
    (the registered oracle states exactly that claim).  PRECONDITION:
    every old doc_id < every delta doc_id (append-only ingest).

    Equivalence, stage by stage, under the id ordering:
    * gates are per-row, so gating delta alone is exact;
    * full-rebuild exact dedup keeps min-id per text, so the survivors
      are ``deduped_old ∪ (delta min-id rows whose text is unseen)`` —
      an anti-join against the standing curated-stage text set;
    * full-rebuild near-dup victims with doc_b in the delta have
      witnesses ``doc_a < doc_b`` in the combined deduped set — exactly
      :func:`ngram_jaccard_pairs_delta`'s pair set;
    * split assignment hashes doc_id — order- and batch-independent.

    Scale: the daily-ingest path.  Per batch, the old corpus is touched
    only through its curated-stage text set (the anti-join build side)
    and its shingle/prefix index — pass them in as ``standing_curated``
    and ``standing_sets`` (:func:`standing_state` output, persisted
    tables in production) and batch cost is ~O(|delta| +
    delta-touching candidates), not O(corpus): nothing re-gates,
    re-dedups, or re-shingles the standing corpus.  Left at ``None``
    (the bootstrap / oracle-fixture path) both are derived from
    ``old_docs`` in-call.  Rebuild-equivalence with the persisted path
    is pinned by ``test_curated_delta_standing_state_equivalent``.

    The independence is STRUCTURAL: with both standing tables supplied,
    ``old_docs`` may be ``None`` — the steady-state batch provably never
    reads the raw corpus at all (its plan scans only the delta and the
    two persisted tables).

    ``eval_hashes`` (`decontam.eval_gram_hashes` output — the standing
    eval-gram artifact, computed once for a static benchmark suite)
    adds the decontamination stage between near-dup drop and split
    assignment.  Because the flag is per-row against a STATIC set,
    gating the delta alone is exact: the result still equals the full
    decontaminated rebuild restricted to delta ids (pinned by
    ``test_curated_delta_decontaminated_equiv``).
    """
    if standing_curated is not None:
        deduped_old = standing_curated
    elif old_docs is not None:
        deduped_old = curated_docs(old_docs)
    else:
        raise ValueError(
            "curated_delta: pass old_docs (bootstrap) or standing_curated "
            "(steady state) — with neither there is no standing corpus"
        )
    w = Window.partitionBy("text")
    delta_min = (
        _gated(delta_docs)
        .withColumn("min_id", F.min("doc_id").over(w))
        .where(F.col("doc_id") == F.col("min_id"))
        .drop("min_id", "pred_lang")
    )
    delta_dedup = stage(
        delta_min.join(deduped_old.select("text"), "text", "left_anti")
    )
    victims = (
        ngram_jaccard_pairs_delta(
            deduped_old.select("doc_id", "text"),
            delta_dedup.select("doc_id", "text"),
            n=3,
            threshold=NEARDUP_THRESHOLD,
            corpus_sets=standing_sets,
        )
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    surviving = delta_dedup.join(victims, "doc_id", "left_anti")
    if eval_hashes is not None:
        from export_oltp_to_olap_spark.operators.decontam import flag_contaminated

        surviving = (
            flag_contaminated(surviving, eval_hashes=eval_hashes)
            .where(~F.col("contaminated"))
            .drop("contaminated")
        )
    return assign_splits(surviving, "doc_id")


def incremental_corpus_delta(docs: DataFrame) -> DataFrame:
    """Registered face of :func:`curated_delta` over the shared append
    batch (`split_at_cut`, which satisfies the append-only precondition
    by construction).  The oracle is the full-rebuild curation SQL
    restricted to delta ids — the incremental ≡ rebuild claim itself."""
    old, delta = split_at_cut(docs)
    return (
        curated_delta(old, delta)
        .select("doc_id", "quality", "split")
        .orderBy("doc_id")
    )


def corpus_curation_summary(docs: DataFrame) -> DataFrame:
    """(split, n_docs, n_tokens, sum_quality) after the full curation
    chain — the yield report of the corpus build."""
    assigned = curated_corpus(docs)
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(tokens("text"))).cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(F.round(F.col("quality"), 6).cast("decimal(18,6)")), 6
            )
            .cast("double")
            .alias("sum_quality"),
        )
        .orderBy("split")
    )


def curation_audit(docs: DataFrame) -> DataFrame:
    """Per-document disposition ledger for the curation chain: WHY each
    input document survived or died, and (for dedup drops) who kept its
    slot — the provenance table a production corpus build needs when a
    supplier asks "where did my documents go?".

    One row per input doc: (doc_id, status, pred_lang, quality,
    keeper_id, split) with status ∈ dropped_lang | dropped_quality |
    dropped_exact_dup | dropped_near_dup | kept.  ``keeper_id`` is the
    surviving representative for dedup drops (the min-id text twin for
    exact, the min-id near-dup witness for near), NULL otherwise;
    ``split`` is non-NULL only for kept rows and matches
    :func:`curated_corpus`'s assignment exactly.

    Scale: the gates/dedup/pair-join stages are the SAME operators (and
    cost) as :func:`curated_corpus`; the ledger adds three left joins on
    ``doc_id`` whose build sides are only the drop/keep deltas, and all
    three reuse one hash partitioning of the scored scan.  Nothing new
    is O(N²) or driver-side.
    """
    scored = stage_fanout(
        docs.select("doc_id", "text")
        .withColumn("quality", quality_score("text"))
        .withColumn("pred_lang", lang_predict("text"))
    )
    gated = scored.where(
        (F.col("pred_lang") == "en") & (F.col("quality") >= QUALITY_MIN)
    )
    w = Window.partitionBy("text")
    gated_k = gated.withColumn("keeper_exact", F.min("doc_id").over(w))
    exact_losers = gated_k.where(F.col("doc_id") != F.col("keeper_exact")).select(
        "doc_id", "keeper_exact"
    )
    deduped = stage_fanout(
        gated_k.where(F.col("doc_id") == F.col("keeper_exact")).select(
            "doc_id", "text", "quality"
        )
    )
    near_witness = (
        ngram_jaccard_pairs(deduped, n=3, threshold=NEARDUP_THRESHOLD)
        .groupBy(F.col("doc_b").alias("doc_id"))
        .agg(F.min("doc_a").alias("keeper_near"))
    )
    kept_split = assign_splits(
        deduped.join(near_witness, "doc_id", "left_anti").select("doc_id"), "doc_id"
    )
    status = (
        F.when(F.col("pred_lang") != "en", F.lit("dropped_lang"))
        .when(F.col("quality") < QUALITY_MIN, F.lit("dropped_quality"))
        .when(F.col("keeper_exact").isNotNull(), F.lit("dropped_exact_dup"))
        .when(F.col("keeper_near").isNotNull(), F.lit("dropped_near_dup"))
        .otherwise(F.lit("kept"))
    )
    return (
        scored.select("doc_id", "pred_lang", "quality")
        .join(exact_losers, "doc_id", "left")
        .join(near_witness, "doc_id", "left")
        .join(kept_split, "doc_id", "left")
        .select(
            "doc_id",
            status.alias("status"),
            "pred_lang",
            "quality",
            F.coalesce("keeper_exact", "keeper_near")
            .cast("bigint")
            .alias("keeper_id"),
            "split",
        )
        .orderBy("doc_id")
    )


def _pipeline_ctes() -> str:
    """The full-rebuild curation chain as a WITH-body string, through
    the ``assigned`` CTE (doc_id, text, n_tokens, quality, split) —
    shared by the yield-report oracle and the incremental-delta oracle
    so the restated pipeline lives in one place."""
    langs = list(LANG_MARKERS)
    score_cols = ",\n         ".join(
        f"{sql_lang_count(lang)} AS score_{lang}" for lang in langs
    )
    best = f"greatest({', '.join('score_' + lang for lang in langs)})"
    pred = "CASE\n"
    pred += f"           WHEN {best} = 0 THEN 'und'\n"
    for lang in langs:
        pred += f"           WHEN score_{lang} = {best} THEN '{lang}'\n"
    pred += "           ELSE 'und' END"
    from export_oltp_to_olap_spark.operators.neardup import shingle_cte
    from export_oltp_to_olap_spark.plans.text_queries import (
        QUALITY_EXPR_SQL,
        quality_feats_cte,
    )

    return rf"""{quality_feats_cte()},
scored AS (
  SELECT doc_id, text, n_tokens,
         {QUALITY_EXPR_SQL} AS quality,
         {score_cols}
  FROM feats
),
gated AS (
  SELECT doc_id, text, n_tokens, quality
  FROM scored
  WHERE ({pred}) = 'en' AND quality >= {QUALITY_MIN}
),
deduped AS (
  SELECT doc_id, text, n_tokens, quality
  FROM (SELECT g.*, min(doc_id) OVER (PARTITION BY text) AS min_id FROM gated g)
  WHERE doc_id = min_id
),
{shingle_cte("deduped")},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
dropped AS (
  SELECT DISTINCT doc_b AS doc_id
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= {NEARDUP_THRESHOLD}
),
kept AS (
  SELECT * FROM deduped WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
),
assigned AS (
  SELECT *,
         CASE
           WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER)
                < 52428 THEN 'train'
           WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER)
                < 58982 THEN 'val'
           ELSE 'test'
         END AS split
  FROM kept
)"""


def _curation_sql() -> str:
    return f"""
WITH {_pipeline_ctes()}
SELECT split,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(round(SUM(CAST(round(quality, 6) AS DECIMAL(18,6))), 6) AS DOUBLE)
           AS sum_quality
FROM assigned
GROUP BY split
ORDER BY split
"""


def _delta_sql() -> str:
    """Oracle for :func:`incremental_corpus_delta`: the FULL-rebuild
    pipeline (same CTE chain as the yield report), restricted to the
    delta ids — so the driver's hash check IS the incremental ≡ rebuild
    equivalence claim."""
    return f"""
WITH {_pipeline_ctes()}
SELECT doc_id, quality, split
FROM assigned
WHERE doc_id > (SELECT CAST(floor({DELTA_CUT_FRACTION} * max(doc_id)) AS BIGINT)
                FROM documents)
ORDER BY doc_id
"""


CORPUS_CURATION_SQL = _curation_sql()
INCREMENTAL_DELTA_SQL = _delta_sql()


def _decontaminated_sql() -> str:
    """Oracle for :func:`curated_corpus_decontaminated`: the shared
    pipeline CTEs through ``assigned``, minus kept docs sharing any
    word 4-gram with the stand-in benchmark set (the raw corpus's
    ``test`` hash split — `operators/decontam.py`'s fixture
    convention, same gram construction as DECONTAM_SQL).  Filtering
    after the split CTE is exact because the split is a per-doc hash,
    independent of the decontamination decision."""
    from export_oltp_to_olap_spark.operators.decontam import FIXTURE_N, _VAL_BOUND

    n = FIXTURE_N
    return f"""
WITH {_pipeline_ctes()},
eval_toks AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
  WHERE CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER)
        >= {_VAL_BOUND}
),
eval_grams AS (
  SELECT DISTINCT u.g
  FROM (SELECT list_distinct(list_transform(
            generate_series(1, greatest(len(t) - {n - 1}, 0)),
            i -> array_to_string(t[i:i+{n - 1}], ' '))) AS gs
        FROM eval_toks) e, unnest(e.gs) AS u(g)
),
kept_grams AS (
  SELECT doc_id,
         list_distinct(list_transform(
             generate_series(1, greatest(len(t) - {n - 1}, 0)),
             i -> array_to_string(t[i:i+{n - 1}], ' '))) AS gs
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS t
        FROM kept)
),
contaminated AS (
  SELECT DISTINCT k.doc_id
  FROM kept_grams k, unnest(k.gs) AS u(g)
  WHERE u.g IN (SELECT g FROM eval_grams)
)
SELECT doc_id, quality, split
FROM assigned
WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
ORDER BY doc_id
"""


CURATED_DECONTAMINATED_SQL = _decontaminated_sql()
CURATED_REWRITTEN_SQL = _rewritten_sql()


def _audit_sql() -> str:
    """Oracle restatement of :func:`curation_audit` — the same stage
    CTEs as `_curation_sql` (gates, exact-dedup window, shingle pair
    join) but carried through to the per-document ledger instead of the
    per-split yield."""
    langs = list(LANG_MARKERS)
    score_cols = ",\n         ".join(
        f"{sql_lang_count(lang)} AS score_{lang}" for lang in langs
    )
    best = f"greatest({', '.join('score_' + lang for lang in langs)})"
    # first-listed language wins ties, matching lang_predict's fold order
    pred = "CASE\n"
    pred += f"           WHEN {best} = 0 THEN 'und'\n"
    for lang in langs:
        pred += f"           WHEN score_{lang} = {best} THEN '{lang}'\n"
    pred += "           ELSE 'und' END"
    from export_oltp_to_olap_spark.operators.neardup import shingle_cte
    from export_oltp_to_olap_spark.plans.text_queries import (
        QUALITY_EXPR_SQL,
        quality_feats_cte,
    )

    return rf"""
WITH {quality_feats_cte()},
scored0 AS (
  SELECT doc_id, text,
         {QUALITY_EXPR_SQL} AS quality,
         {score_cols}
  FROM feats
),
scored AS (
  SELECT doc_id, text, quality, {pred} AS pred_lang
  FROM scored0
),
gated AS (
  SELECT doc_id, text, quality
  FROM scored
  WHERE pred_lang = 'en' AND quality >= {QUALITY_MIN}
),
gk AS (
  SELECT g.*, min(doc_id) OVER (PARTITION BY text) AS keeper_exact FROM gated g
),
exact_losers AS (
  SELECT doc_id, keeper_exact FROM gk WHERE doc_id <> keeper_exact
),
deduped AS (
  SELECT doc_id, text, quality FROM gk WHERE doc_id = keeper_exact
),
{shingle_cte("deduped")},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
near_witness AS (
  SELECT doc_b AS doc_id, min(doc_a) AS keeper_near
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= {NEARDUP_THRESHOLD}
  GROUP BY doc_b
),
kept_split AS (
  SELECT d.doc_id,
         CASE
           WHEN CAST('0x' || substr(md5('split:' || CAST(d.doc_id AS VARCHAR)), 1, 4) AS INTEGER)
                < 52428 THEN 'train'
           WHEN CAST('0x' || substr(md5('split:' || CAST(d.doc_id AS VARCHAR)), 1, 4) AS INTEGER)
                < 58982 THEN 'val'
           ELSE 'test'
         END AS split
  FROM deduped d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM near_witness)
)
SELECT s.doc_id,
       CASE
         WHEN s.pred_lang <> 'en' THEN 'dropped_lang'
         WHEN s.quality < {QUALITY_MIN} THEN 'dropped_quality'
         WHEN el.keeper_exact IS NOT NULL THEN 'dropped_exact_dup'
         WHEN nw.keeper_near IS NOT NULL THEN 'dropped_near_dup'
         ELSE 'kept'
       END AS status,
       s.pred_lang,
       s.quality,
       CAST(coalesce(el.keeper_exact, nw.keeper_near) AS BIGINT) AS keeper_id,
       ks.split
FROM scored s
LEFT JOIN exact_losers el USING (doc_id)
LEFT JOIN near_witness nw USING (doc_id)
LEFT JOIN kept_split ks USING (doc_id)
ORDER BY s.doc_id
"""


CURATION_AUDIT_SQL = _audit_sql()


# ---------------------------------------------------------------------------
# Quality-keeper selection over near-dup clusters
# ---------------------------------------------------------------------------


def neardup_quality_keepers(docs: DataFrame) -> DataFrame:
    """Near-dup cluster canonicalization with the KEEPER chosen by
    QUALITY, not by min id: per MinHash cluster, keeper = highest
    6-dp-rounded quality score, ties to the smaller doc_id — the policy
    real pipelines run (keep the best representative of a template
    family, not the first-crawled copy; cf. SemDeDup keeping the
    closest-to-centroid member and FineWeb keeping by heuristic
    quality).  ``canonical_id`` (min id) stays as the stable CLUSTER
    LABEL; ``keeper_id`` is the retention decision.

    One row per doc: ``(doc_id, canonical_id, cluster_size, quality,
    keeper_id, is_keeper)`` ordered by doc_id.  "Keep where is_keeper"
    is the corpus filter; singletons keep themselves.

    Scale: the cluster pass is `neardup_clusters` unchanged; this adds
    one per-doc quality projection (map-side) and one
    (canonical_id)-partitioned row_number window — the same bounded
    window shape every keeper ledger in the engine uses.  Quality is
    rounded BEFORE ranking (the tfidf convention) so the emitted keeper
    set is engine-deterministic.
    """
    from pyspark.sql import Window

    from export_oltp_to_olap_spark.functions.text import quality_score
    from export_oltp_to_olap_spark.operators.neardup import minhash_neardup_clusters

    clusters = minhash_neardup_clusters(docs)
    scored = docs.select(
        "doc_id", F.round(quality_score("text"), 6).alias("quality")
    )
    joined = clusters.join(scored, "doc_id")
    w = Window.partitionBy("canonical_id").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    ranked = joined.withColumn("rn", F.row_number().over(w))
    keepers = ranked.where(F.col("rn") == 1).select(
        "canonical_id", F.col("doc_id").alias("keeper_id")
    )
    return (
        joined.join(keepers, "canonical_id")
        .select(
            "doc_id",
            "canonical_id",
            F.col("cluster_size").cast("long").alias("cluster_size"),
            "quality",
            F.col("keeper_id").cast("long").alias("keeper_id"),
            (F.col("doc_id") == F.col("keeper_id")).alias("is_keeper"),
        )
        .orderBy("doc_id")
    )


def _quality_keepers_sql() -> str:
    """Oracle for :func:`neardup_quality_keepers`: the shared recursive
    cluster CTEs (`operators/neardup._CLUSTERS_CTES`) + the shared
    quality-feature CTE, keeper via the identical rounded-quality
    window."""
    from export_oltp_to_olap_spark.operators.neardup import _CLUSTERS_CTES
    from export_oltp_to_olap_spark.plans.text_queries import (
        QUALITY_EXPR_SQL,
        quality_feats_cte,
    )

    return f"""
WITH RECURSIVE {_CLUSTERS_CTES},
{quality_feats_cte()},
scored AS (
  SELECT doc_id, round({QUALITY_EXPR_SQL}, 6) AS quality FROM feats
),
joined AS (
  SELECT a.doc_id, a.canonical_id, s.cluster_size, q.quality
  FROM allc a JOIN csizes s USING (canonical_id) JOIN scored q USING (doc_id)
),
ranked AS (
  SELECT *, row_number() OVER (
           PARTITION BY canonical_id
           ORDER BY quality DESC, doc_id ASC) AS rn
  FROM joined
)
SELECT j.doc_id, j.canonical_id,
       CAST(j.cluster_size AS BIGINT) AS cluster_size,
       j.quality,
       CAST(k.doc_id AS BIGINT) AS keeper_id,
       (j.doc_id = k.doc_id) AS is_keeper
FROM joined j
JOIN (SELECT canonical_id, doc_id FROM ranked WHERE rn = 1) k USING (canonical_id)
ORDER BY j.doc_id
""".strip()


NEARDUP_QUALITY_KEEPERS_SQL = _quality_keepers_sql()


# ---------------------------------------------------------------------------
# Delete-aware STANDING CURATED corpus
# ---------------------------------------------------------------------------
#
# The retract ladder (clusters, pairs, vocab, novelty, semdedup, IVF)
# covered the dedup INGREDIENTS; this is the ladder applied one level up,
# to the curated corpus itself.  Deleting raw documents can RE-ADMIT
# documents the standing corpus suppressed:
#
# * a deleted exact-dedup KEEPER releases its text slot — the min-id
#   SURVIVING twin (from the losers ledger) re-enters the curated stage;
# * a deleted near-dup WITNESS releases its victims — a doc dropped only
#   because a smaller-id ≥0.7 neighbor existed must re-enter when every
#   such neighbor is gone.
#
# The affected-set discipline: exact re-election touches only text
# groups whose KEEPER died (deleting a loser never moves the group min);
# near-dup maintenance touches only pairs with a deleted endpoint — and
# a re-admitted exact twin needs NO re-shingling, because its text (hence
# shingle set, hence every Jaccard) is IDENTICAL to its dead keeper's:
# the dead keeper's verified pair rows re-key to the successor id with
# their jaccard values intact.  Re-admissions can never drop a
# previously-kept doc (a re-admitted twin's id exceeds its dead keeper's,
# so any pair it wins was already won by the keeper), so the standing
# kept set only grows by re-admissions and shrinks by deletions — both
# scoped to the batch.

def curation_standing_ledger(
    old_docs: DataFrame,
    mode: str | None = None,
    return_sets: bool = False,
):
    """The three persisted artifacts the delete-aware curated corpus
    maintains: the curated-stage KEEPERS (gate + exact-dedup survivors,
    pre near-dup — `standing_state`'s first table), the exact-dup
    LOSERS ledger (gate-passing docs whose text slot a smaller id
    holds — `curation_audit`'s ``dropped_exact_dup`` rows, persisted),
    and the verified near-dup PAIR table over the keepers.  Production
    writes all three once and maintains them per batch (appends for
    ingest, the anti-joins/re-keys of :func:`curated_retract` for
    deletes).

    ``return_sets=True`` appends the keepers' shingle-set table
    (:func:`ngram_shingle_sets` format) as a FOURTH element — the same
    rung `standing_state` persists, staged here exactly once and
    threaded into the pair build, so CDC callers that probe it
    (`curated_upsert`'s ``standing_sets``) share one explicit
    materialization instead of relying on CacheManager plan identity
    between two independently-built plans, which a stray ``.select()``
    silently breaks.

    Staging (measured): the set table is staged once (fan-out cache
    under the default conf, the artifact mode otherwise) and the pair
    build consumes it, so the keepers are shingled once.  The pair
    table itself stays EAGERLY staged even in-call: leaving it as a
    live plan fused a ~1,000-node subtree into the consumer's job, and
    Catalyst/AQE re-planning of the giant plan cost more than the
    staging pass it saved (curated_upsert 9.5 → 11.3 s at sf0.1:
    materialising an intermediate truncates the plan).
    """
    gated = _gated(old_docs)
    w = Window.partitionBy("text")
    # Materialize the gate+window ONCE: keepers and losers are two
    # filters of the same frame, and staging each branch separately
    # re-ran the whole regex gate chain + the text-partitioned window
    # per branch (measured ~1.5 s per extra pass at sf0.1).
    gk = stage_fanout(gated.withColumn("keeper", F.min("doc_id").over(w)))
    keepers = stage(
        gk.where(F.col("doc_id") == F.col("keeper")).select(
            "doc_id", "text", "quality"
        ),
        mode=mode,
    )
    losers = stage(
        gk.where(F.col("doc_id") != F.col("keeper")).select("doc_id", "text"),
        mode=mode,
    )
    # The set table feeds the pair build's three consumers (prefix +
    # both verify sides) and, when returned, the CDC probe's corpus
    # side — one explicit materialization for all of them.
    sets = ngram_shingle_sets(keepers.select("doc_id", "text"))
    sets = stage(sets, mode=mode) if mode is not None else stage_fanout(sets)
    pairs = stage(
        ngram_jaccard_pairs(sets=sets, n=3, threshold=NEARDUP_THRESHOLD),
        mode=mode,
    )
    if return_sets:
        return keepers, losers, pairs, sets
    return keepers, losers, pairs


def curated_retract(
    deleted_ids: DataFrame,
    standing_curated: DataFrame,
    standing_losers: DataFrame,
    standing_pairs: DataFrame,
) -> DataFrame:
    """The standing CURATED corpus after a delete batch — exactly
    ``curated_corpus(survivors)`` (the driver oracle states that claim
    over the full-rebuild SQL), computed from the persisted ledger
    without re-gating, re-deduping or re-shingling anything:

    1. Exact re-election: for each DELETED keeper, the min surviving
       loser with the same text re-enters the curated stage (same text
       ⇒ same gates, same quality — recomputed per-row for the output
       column, identical by construction).
    2. Pair re-key: surviving standing pairs pass through; pairs
       touching a dead keeper re-key to its successor (same text ⇒ same
       jaccard) or die with it when no twin survives.  The re-keyed
       table is provably the full pair set over the new curated stage.
    3. The near-dup drop rule (any smaller-id ≥-threshold neighbor) and
       the doc_id hash split then re-derive kept rows per batch-scoped
       joins only.

    Output ``(doc_id, quality, split)`` ordered by doc_id — the
    `incremental_corpus_delta` face shape, over the whole surviving
    curated corpus.  Production also updates the ledger itself: keepers
    := keepers − deleted ∪ re-admitted, losers := losers − deleted −
    re-admitted, pairs := the re-keyed table (all batch-scoped
    anti-joins/upserts of the same frames computed here).
    """
    new_deduped, mapped, _succ, _losers = _curated_retract_state(
        deleted_ids, standing_curated, standing_losers, standing_pairs
    )
    return _curated_rows(new_deduped, mapped, ends=("na", "nb"))


def _curated_rows(
    keepers: DataFrame,
    pairs: DataFrame,
    ends: tuple[str, str] = ("doc_a", "doc_b"),
) -> DataFrame:
    """The curated output over a curated-stage keeper table and its
    verified pair table: the near-dup drop rule (a keeper is dropped
    when it is the larger end of any pair), then the doc_id hash
    split — ``(doc_id, quality, split)`` ordered by doc_id."""
    dropped = pairs.select(F.greatest(*ends).alias("doc_id")).distinct()
    kept = keepers.join(dropped, "doc_id", "left_anti")
    return (
        assign_splits(kept, "doc_id")
        .select("doc_id", "quality", "split")
        .orderBy("doc_id")
    )


def _curated_retract_state(
    deleted_ids: DataFrame,
    standing_curated: DataFrame,
    standing_losers: DataFrame,
    standing_pairs: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Steps 1–2 of :func:`curated_retract`, exposed so the upsert
    composition can continue from the post-retract STATE instead of the
    final output: returns (``new_deduped`` — the curated stage after
    deletes + exact re-election, (doc_id, text, quality); ``mapped`` —
    the re-keyed pair table over it, (na, nb, jaccard), either id
    order (same text ⇒ same jaccard, so re-keying preserves the
    value); ``succ`` — the dead-keeper → re-admitted-successor id map,
    same text on both sides, used to re-key persisted per-doc
    artifacts like shingle-set tables without recomputing them;
    ``surv_losers`` — the loser ledger minus the delete batch, which
    ledger maintenance subtracts re-admissions from)."""
    d = deleted_ids.select("doc_id").distinct()
    dk = standing_curated.join(d, "doc_id").select("doc_id", "text")
    kept_keepers = standing_curated.join(d, "doc_id", "left_anti").select(
        "doc_id", "text", "quality"
    )
    surv_losers = standing_losers.join(d, "doc_id", "left_anti")
    readmitted = (
        dk.select("text")
        .join(surv_losers, "text")
        .groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "text")
        .withColumn("quality", quality_score("text"))
    )
    new_deduped = kept_keepers.unionByName(readmitted)

    # Successor map over dead keepers (succ NULL = text slot died).
    # Staged: a delete-batch-sized frame whose lineage re-runs the
    # re-admission group-by + quality regex, and whose derivatives feed
    # the ma/mb/m BROADCASTS — unstaged, each broadcast re-evaluated
    # the subtree separately.
    succ = stage(
        dk.join(
            readmitted.select(F.col("doc_id").alias("succ"), "text"), "text"
        )
        .select("doc_id", "succ")
    )
    dead = dk.select("doc_id").join(succ, "doc_id", "left").withColumn(
        "dead", F.lit(True)
    )
    ma = dead.select(
        F.col("doc_id").alias("doc_a"),
        F.col("succ").alias("succ_a"),
        F.col("dead").alias("dead_a"),
    )
    mb = dead.select(
        F.col("doc_id").alias("doc_b"),
        F.col("succ").alias("succ_b"),
        F.col("dead").alias("dead_b"),
    )
    mapped = (
        standing_pairs.join(ma, "doc_a", "left")
        .join(mb, "doc_b", "left")
        .where(
            (F.col("dead_a").isNull() | F.col("succ_a").isNotNull())
            & (F.col("dead_b").isNull() | F.col("succ_b").isNotNull())
        )
        .select(
            F.coalesce("succ_a", "doc_a").alias("na"),
            F.coalesce("succ_b", "doc_b").alias("nb"),
            "jaccard",
        )
    )
    return new_deduped, mapped, succ, surv_losers


def curated_retract_fixture(docs: DataFrame) -> DataFrame:
    """Registered face: the shared delete batch (`tombstoned` — at
    sf0.01 it deletes 43 curated keepers, including near-dup witnesses
    whose victims re-enter); the standing ledger derives in-call
    (persisted in production).  The oracle is the full curation SQL
    over the surviving corpus: retract ≡ rebuild-after-delete."""
    base = docs.select("doc_id", "text")
    keepers, losers, pairs = curation_standing_ledger(base)
    return curated_retract(tombstoned(base.select("doc_id")), keepers, losers, pairs)


def _curated_retract_sql() -> str:
    """Full-rebuild curation over the survivors: the shared pipeline
    CTEs with the ONE raw-corpus scan redirected (the
    `semdedup_retract_sql` anchor discipline — ValueError, not assert,
    because this runs at import)."""
    ctes = _pipeline_ctes()
    anchor = "FROM documents"
    if ctes.count(anchor) != 1:
        raise ValueError(
            "curated_retract oracle: expected exactly one raw-corpus scan "
            f"in the pipeline CTEs, found {ctes.count(anchor)}"
        )
    return f"""
WITH {SURVIVORS_CTE},
{ctes.replace(anchor, "FROM survivors")}
SELECT doc_id, quality, split
FROM assigned
ORDER BY doc_id
"""


CURATED_RETRACT_SQL = _curated_retract_sql()


def curated_upsert(
    deleted_ids: DataFrame,
    changed_docs: DataFrame,
    standing_curated: DataFrame,
    standing_losers: DataFrame,
    standing_pairs: DataFrame,
    standing_sets: DataFrame | None = None,
    standing_prefix: DataFrame | None = None,
) -> DataFrame:
    """Full CDC maintenance of the standing CURATED corpus — UPSERTS +
    DELETES in one batch, ≡ ``curated_corpus((documents − deleted −
    changed) ∪ changed')`` (the driver oracle states that claim over
    the full-rebuild SQL).  The retract ladder one level up from
    :func:`neardup_clusters_upsert <export_oltp_to_olap_spark.operators.
    neardup.neardup_clusters_upsert>`: a re-written document's OLD text
    must release its exact-dedup slot and near-dup edges (re-admitting
    whoever it suppressed), and its NEW text competes fresh — including
    against docs with LARGER ids, which the append-only delta's
    id-monotone precondition could ignore.

    Construction:

    1. RETRACT leg over ``deleted ∪ changed`` ids
       (:func:`_curated_retract_state`): the post-retract curated stage
       + re-keyed pair table — exactly the standing state for the
       corpus minus the batch.
    2. CHALLENGE/ADMIT: gate the changed docs' new text, in-batch
       exact-dedup (min id per text), then match against the
       post-retract stage by text.  Unseen text → admitted keeper;
       text already held with a LARGER keeper id → the batch row
       CHALLENGES (it is the rebuild's min id for that text): the old
       keeper demotes and — same text ⇒ same shingles ⇒ same jaccard —
       its pairs re-key to the challenger; smaller keeper id → the
       batch row is a loser.
    3. Pair completeness: old×old pairs are the re-keyed retract table;
       challenger pairs are the demoted keeper's re-keyed rows; only
       genuinely NEW texts need probing —
       :func:`ngram_jaccard_pairs_touching` (BOTH id directions: a
       mid-range admitted id can witness-drop standing docs above it)
       against the rest of the stage.  Then the drop rule + hash split
       re-derive the output.

    ``standing_sets`` (:func:`standing_state`'s shingle side-table over
    the standing curated stage) threads the persisted signatures
    through: re-admissions and demotions RE-KEY existing set rows via
    the two same-text successor maps, so steady state shingles only the
    admitted batch texts — never the corpus.  ``None``
    (fixture/bootstrap) shingles the stage in-call.
    ``standing_prefix`` additionally threads the persisted AllPairs
    prefix-row table (``_prefix_index`` over ``standing_sets`` at the
    same threshold): prefix rows are per-document, so they re-key through
    the same successor maps and the probe skips re-exploding +
    re-sorting every corpus doc's shingle array per batch.

    Caller contract: ``changed_docs`` carries the new text under the
    SAME doc_id (or a brand-new id — inserts ride the same path); ids
    also present in ``deleted_ids`` are deletes (the delete wins).
    Output (doc_id, quality, split) ordered by doc_id.  Scale: every
    frame beyond the one standing-stage anti-join is bounded by the
    batch and the clusters/postings it touches.
    """
    stage_new, pairs_new, _losers, _sets = _curated_upsert_state(
        deleted_ids,
        changed_docs,
        standing_curated,
        standing_losers,
        standing_pairs,
        standing_sets,
        standing_prefix,
    )
    return _curated_rows(stage_new, pairs_new)


def _curated_upsert_state(
    deleted_ids: DataFrame,
    changed_docs: DataFrame,
    standing_curated: DataFrame,
    standing_losers: DataFrame,
    standing_pairs: DataFrame,
    standing_sets: DataFrame | None = None,
    standing_prefix: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """:func:`curated_upsert`'s construction, returning the full
    POST-BATCH LEDGER so batches can chain (:func:`curated_upsert_ledger`,
    the streaming sink, the 3-batch tests): (``stage_new`` — the
    curated-stage keepers, ``pairs_new`` — the verified pair table over
    them (doc_a, doc_b, jaccard), ``losers_new`` — every gate-passing
    doc whose text slot a smaller id holds, ``sets_new`` — the forward
    shingle-set side table over stage_new (just ``corpus_sets ∪
    delta_sets`` — the probe already built both, so carrying the
    artifact forward never re-shingles the corpus)).  All four are
    lazy; :func:`_curated_rows` derives the curated output from the
    first two."""
    deleted = deleted_ids.select("doc_id").distinct()
    changed = changed_docs.join(deleted, "doc_id", "left_anti")
    drop = deleted.unionByName(changed.select("doc_id")).distinct()
    stage0, pairs0, succ_r, surv_losers = _curated_retract_state(
        drop, standing_curated, standing_losers, standing_pairs
    )
    # localCheckpoint staging, DELIBERATELY not stage_fanout (measured):
    # stage0 feeds four branches and cache-mode staging keeps
    # statistics, which flipped ~36 downstream joins to broadcasts — at
    # local fixture scale the extra BroadcastExchange jobs cost more
    # than the SMJ shuffles they replaced (curated_upsert[standing]
    # 8.7 → 12.6 s).
    stage0 = stage(stage0)

    w = Window.partitionBy("text")
    batch = (
        _gated(changed)
        .withColumn("min_id", F.min("doc_id").over(w))
        .where(F.col("doc_id") == F.col("min_id"))
        .drop("min_id", "pred_lang")
    )
    # Stage the challenge join ONCE: j is a batch-sized frame (~700
    # rows at sf0.1) whose lineage is the whole regex gate chain + text
    # window + the stage0 join, and its unstaged derivatives (admitted,
    # challengers, succ_c, demoted) feed FIVE separate consumers — four
    # of them broadcasts, each of which re-evaluated the full subtree.
    # admitted/challengers are then cheap filters over the
    # checkpointed rows and need no staging of their own.
    j = stage(
        batch.join(
            stage0.select(F.col("doc_id").alias("keeper_id"), "text"),
            "text",
            "left",
        )
    )
    admitted = j.where(F.col("keeper_id").isNull()).select(
        "doc_id", "text", "quality"
    )
    challengers = j.where(
        F.col("keeper_id").isNotNull() & (F.col("doc_id") < F.col("keeper_id"))
    )
    demoted = challengers.select(F.col("keeper_id").alias("doc_id"))
    succ_c = challengers.select(
        F.col("keeper_id").alias("doc_id"), F.col("doc_id").alias("succ")
    )
    stage_old = stage0.join(F.broadcast(demoted), "doc_id", "left_anti").unionByName(
        challengers.select("doc_id", "text", "quality")
    )

    # Re-key the surviving pair table through the challenge successions
    # (no deaths here: a challenged text always has its challenger).
    ca = succ_c.select(F.col("doc_id").alias("na"), F.col("succ").alias("sa"))
    cb = succ_c.select(F.col("doc_id").alias("nb"), F.col("succ").alias("sb"))
    pairs_old = (
        pairs0.join(F.broadcast(ca), "na", "left")
        .join(F.broadcast(cb), "nb", "left")
        .select(
            F.coalesce("sa", F.col("na")).alias("x"),
            F.coalesce("sb", F.col("nb")).alias("y"),
            "jaccard",
        )
        .select(
            F.least("x", "y").alias("doc_a"),
            F.greatest("x", "y").alias("doc_b"),
            "jaccard",
        )
    )

    # Shingle sets for the probe's corpus side: persisted rows re-keyed
    # through both successor maps, or an in-call shingle of the stage.
    if standing_sets is not None:
        # Compose the two same-text successions before re-keying: a dead
        # keeper's re-admitted loser can itself be challenged by a batch
        # id (k → ℓ → c), and the loser never had a persisted set row —
        # so k's row must re-key straight to c.  succ_c alone also
        # applies (an unchanged keeper challenged directly); chains are
        # at most two levels (a challenge successor is a batch id).
        step = succ_c.select(
            F.col("doc_id").alias("mid"), F.col("succ").alias("succ2")
        )
        succ_r2 = succ_r.join(
            F.broadcast(step), succ_r["succ"] == step["mid"], "left"
        ).select(
            succ_r["doc_id"], F.coalesce("succ2", succ_r["succ"]).alias("succ")
        )
        m = succ_r2.unionByName(succ_c)

        def _rekey(table: DataFrame, payload: list[str]) -> DataFrame:
            # Same-text succession re-key + restriction to the
            # post-challenge stage — shared by the per-doc set rows and
            # the per-doc prefix rows, which carry only text-derived
            # payloads and therefore re-key the same way.
            return (
                table.join(F.broadcast(m), "doc_id", "left")
                .select(
                    F.coalesce("succ", F.col("doc_id")).alias("doc_id"),
                    *payload,
                )
                .join(stage_old.select("doc_id"), "doc_id")
            )

        corpus_sets = _rekey(standing_sets, ["shs", "n_sh"])
        # The prefix re-key deliberately SKIPS the stage_old
        # restriction: a prefix row for a dead/demoted id can only
        # produce candidates the verify join (inner on sets_all, which
        # IS restricted) then drops, so the output is identical — and
        # the restriction would re-evaluate the unstaged challenge
        # chain a third time per run.
        corpus_prefix = (
            standing_prefix.join(F.broadcast(m), "doc_id", "left").select(
                F.coalesce("succ", F.col("doc_id")).alias("doc_id"),
                "n_sh",
                "h",
            )
            if standing_prefix is not None
            else None
        )
    else:
        corpus_sets = ngram_shingle_sets(stage_old.select("doc_id", "text"))
        corpus_prefix = None
    delta_sets = ngram_shingle_sets(admitted.select("doc_id", "text"))
    new_pairs = ngram_jaccard_pairs_touching(
        corpus_sets, delta_sets, NEARDUP_THRESHOLD, corpus_prefix=corpus_prefix
    )

    pairs_new = pairs_old.unionByName(new_pairs)
    stage_new = stage_old.unionByName(admitted)
    # Loser ledger forward: survivors of the old ledger minus the
    # re-admitted (now keepers), plus the demoted keepers and every
    # gate-passing batch row whose text slot a smaller id holds
    # (challenge losers AND in-batch exact-dup drops).
    losers_new = (
        surv_losers.join(
            succ_r.select(F.col("succ").alias("doc_id")), "doc_id", "left_anti"
        )
        .unionByName(
            challengers.select(F.col("keeper_id").alias("doc_id"), "text")
        )
        .unionByName(
            _gated(changed)
            .join(stage_new.select("doc_id"), "doc_id", "left_anti")
            .select("doc_id", "text")
        )
    )
    sets_new = corpus_sets.unionByName(delta_sets)
    return stage_new, pairs_new, losers_new, sets_new


def curated_upsert_ledger(
    deleted_ids: DataFrame,
    changed_docs: DataFrame,
    standing_curated: DataFrame,
    standing_losers: DataFrame,
    standing_pairs: DataFrame,
    standing_sets: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """One CDC batch applied to the persisted curation ledger,
    returning the NEXT ledger — (keepers, losers, pairs, shingle
    sets, curated output rows) — so batches chain: feeding batch N's
    ledger into batch N+1 is provably ≡ the rebuild over the
    accumulated corpus (the 3-batch and streamed-CDC pytests pin it,
    the `neardup_clusters_upsert` evolving-state convention).  This
    is the production maintenance loop `curated_retract`'s docstring
    promises: each frame is exactly the batch-scoped update computed
    inside the upsert, nothing re-derives from the raw corpus — the
    forward sets table in particular is the probe's own
    corpus ∪ delta union, so chained batches never re-shingle
    (`cli.py curate-ledger-apply` is the runnable form).

    ``keepers`` and ``pairs`` come back STAGED (:func:`stage`, the
    session mode) and the caller owns them: their blocks stay held
    while the caller keeps the frames, and go when it drops them or
    releases the session's persisted RDDs.  The curated rows read
    both, and the pair table is the both-directions probe's output, so
    without staging the ``pairs`` write and the ``curated`` write each
    ran the probe (13 and 33 jobs at sf0.001; staged, 1 and 6).  ``losers``,
    ``sets`` and the curated rows stay lazy: they derive from the
    input tables at write time."""
    stage_new, pairs_new, losers_new, sets_new = _curated_upsert_state(
        deleted_ids,
        changed_docs,
        standing_curated,
        standing_losers,
        standing_pairs,
        standing_sets,
    )
    # Staged here, not in _curated_upsert_state: the single-output
    # curated_upsert face reads each frame once, in one query, so a
    # materialization there would buy nothing.
    stage_new = stage(stage_new)
    pairs_new = stage(pairs_new)
    return stage_new, losers_new, pairs_new, sets_new, _curated_rows(
        stage_new, pairs_new
    )


UPSERT_COPY_MOD = 29  # the challenge/reverse-witness-planting classes


def curated_upsert_fixture(docs: DataFrame) -> DataFrame:
    """Registered face: the ladder's shared CDC fixture (`neardup`'s
    UPSERT constants — every UPSERT_DEL_MOD-th id deleted, every
    surviving UPSERT_CHG_MOD-th id re-written with the deterministic
    suffix) plus the two copy classes the CURATED face needs to
    exercise its upsert-only branches at sf0.01:

    * ``doc_id ≡ 1 (mod UPSERT_COPY_MOD)`` re-writes to its NEXT
      neighbor's original text VERBATIM — an exact twin of a standing
      text held by a larger id, so the batch row CHALLENGES the keeper
      (demotion + pair re-key);
    * ``doc_id ≡ 15 (mod UPSERT_COPY_MOD)`` re-writes to the neighbor's
      text + suffix — a ≥0.7 near-dup of a LARGER standing id, the
      reverse-direction probe pair the append-only delta could never
      emit.

    Plain suffix changes keep exercising slot release and re-gating.
    Standing ledger derives in-call (persisted in production).
    ORACLE: the full curation SQL over the upserted corpus — upsert ≡
    rebuild, hashed directly."""
    from export_oltp_to_olap_spark.operators.neardup import (
        UPSERT_CHG_MOD,
        UPSERT_DEL_MOD,
        UPSERT_SUFFIX,
    )

    base = docs.select("doc_id", "text")
    deleted = base.select("doc_id").where(
        F.col("doc_id") % UPSERT_DEL_MOD == 0
    )
    nbr = base.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("nbr_text")
    )
    is_twin = F.col("doc_id") % UPSERT_COPY_MOD == 1
    is_near = F.col("doc_id") % UPSERT_COPY_MOD == 15
    is_chg = F.col("doc_id") % UPSERT_CHG_MOD == 0
    changed = (
        base.where(F.col("doc_id") % UPSERT_DEL_MOD != 0)
        .where(is_twin | is_near | is_chg)
        .join(nbr, "doc_id", "left")
        .select(
            "doc_id",
            F.when(is_twin, F.coalesce("nbr_text", F.col("text")))
            .when(
                is_near,
                F.concat(
                    F.coalesce("nbr_text", F.col("text")), F.lit(UPSERT_SUFFIX)
                ),
            )
            .otherwise(F.concat(F.col("text"), F.lit(UPSERT_SUFFIX)))
            .alias("text"),
        )
    )
    # Thread the keepers' shingle-set table through (the persisted-
    # signatures path, ≡ in-call by test_curated_upsert_persisted_sets_
    # and_succession_chain): the probe's corpus side becomes same-text
    # re-keys of those rows instead of a fresh shingle pass over the
    # whole post-retract stage — measured ~3 s off the face at sf0.1.
    # The ledger RETURNS the explicitly-staged set table it already
    # built for the pair build (one materialization, no CacheManager
    # plan-identity coupling; tests/test_round15.py pins the single
    # shingle build in the physical plan).
    keepers, losers, pairs, sets = curation_standing_ledger(
        base, return_sets=True
    )
    return curated_upsert(
        deleted, changed, keepers, losers, pairs, standing_sets=sets
    )


def _curated_upsert_sql() -> str:
    """Full-rebuild curation over the UPSERTED corpus: the shared
    pipeline CTEs with the one raw-corpus scan redirected through the
    delete-filter + text-rewrite CTE (`NEARDUP_CLUSTERS_UPSERT_SQL`'s
    shape, `curated_retract`'s anchor discipline)."""
    from export_oltp_to_olap_spark.operators.neardup import (
        UPSERT_CHG_MOD,
        UPSERT_DEL_MOD,
        UPSERT_SUFFIX,
    )

    ctes = _pipeline_ctes()
    anchor = "FROM documents"
    if ctes.count(anchor) != 1:
        raise ValueError(
            "curated_upsert oracle: expected exactly one raw-corpus scan "
            f"in the pipeline CTEs, found {ctes.count(anchor)}"
        )
    return f"""
WITH upserted AS (
  SELECT d.doc_id,
         CASE
           WHEN d.doc_id % {UPSERT_COPY_MOD} = 1
             THEN COALESCE(n.text, d.text)
           WHEN d.doc_id % {UPSERT_COPY_MOD} = 15
             THEN COALESCE(n.text, d.text) || '{UPSERT_SUFFIX}'
           WHEN d.doc_id % {UPSERT_CHG_MOD} = 0
             THEN d.text || '{UPSERT_SUFFIX}'
           ELSE d.text END AS text
  FROM documents d
  LEFT JOIN documents n ON n.doc_id = d.doc_id + 1
  WHERE d.doc_id % {UPSERT_DEL_MOD} <> 0
),
{ctes.replace(anchor, "FROM upserted")}
SELECT doc_id, quality, split
FROM assigned
ORDER BY doc_id
"""


CURATED_UPSERT_SQL = _curated_upsert_sql()
