"""Text-analysis queries over the ``documents`` fixture table.

Wires functions/text.py into oracle-checked query shapes: language ID,
quality scoring, token stats, and content fingerprints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from export_oltp_to_olap_spark.functions.text import (
    LANG_MARKERS,
    SQL_TOKENS,
    TOKEN_SPLIT_RE,
    doc_fingerprint,
    lang_predict,
    lang_scores,
    quality_features,
    quality_score,
    sql_lang_count,
    tokens,
    word_shingles,
)
from export_oltp_to_olap_spark.operators.diff import (
    SURVIVORS_CTE,
    maintain_monoid,
    split_at_cut,
    tombstoned,
)
from export_oltp_to_olap_spark.operators.partitioning import spread_for_compute


def text_quality(docs: DataFrame) -> DataFrame:
    """Per-doc quality features + blended score (corpus-filtering shape)."""
    f = quality_features("text")
    return docs.select(
        "doc_id",
        f["n_chars"].alias("n_chars"),
        f["n_tokens"].alias("n_tokens"),
        f["n_distinct_tokens"].alias("n_distinct_tokens"),
        f["punct_ratio"].alias("punct_ratio"),
        f["space_ratio"].alias("space_ratio"),
        f["stopword_ratio"].alias("stopword_ratio"),
        f["distinct_ratio"].alias("distinct_ratio"),
        quality_score("text").alias("quality"),
    )


def quality_feats_cte(table: str = "documents") -> str:
    """The DuckDB per-doc quality-feature CTE (``feats``) over
    ``table`` — the oracle-side restatement of `quality_features`,
    shared by the text-quality query and the curation pipeline so the
    feature definitions live in one place."""
    return rf"""
feats AS (
  SELECT doc_id, text,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(list_filter(
             regexp_split_to_array(lower(text), '[^a-z0-9]+'),
             x -> x <> ''))) AS BIGINT) AS n_distinct_tokens,
         CAST(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))
              AS BIGINT) AS n_punct,
         CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
              AS BIGINT) AS n_digits,
         CAST(length(text) - length(regexp_replace(text, '\s', '', 'g'))
              AS BIGINT) AS n_spaces,
         CAST(len(regexp_extract_all(lower(text), '\b(the|a|and|of|is|to|in)\b'))
              AS BIGINT) AS n_stop
  FROM {table}
)
""".strip()


# The blended score over feats columns — quoted verbatim by every SQL
# that derives `quality` (mirror of `quality_score`).
QUALITY_EXPR_SQL = """0.4 * (n_distinct_tokens / greatest(n_tokens, 1))
       + 0.3 * (n_stop / greatest(n_tokens, 1))
       + 0.2 * (1.0 - n_punct / greatest(n_chars, 1))
       + 0.1 * (1.0 - n_digits / greatest(n_chars, 1))"""


TEXT_QUALITY_SQL = rf"""
WITH {quality_feats_cte()}
SELECT doc_id, n_chars, n_tokens, n_distinct_tokens,
       n_punct / greatest(n_chars, 1) AS punct_ratio,
       n_spaces / greatest(n_chars, 1) AS space_ratio,
       n_stop / greatest(n_tokens, 1) AS stopword_ratio,
       n_distinct_tokens / greatest(n_tokens, 1) AS distinct_ratio,
       {QUALITY_EXPR_SQL} AS quality
FROM feats
"""


def text_lang_id(docs: DataFrame) -> DataFrame:
    """Marker-stopword language ID with per-language scores and argmax."""
    scores = lang_scores("text")
    cols = [scores[lang].alias(f"score_{lang}") for lang in LANG_MARKERS]
    return docs.select("doc_id", "lang", *cols, lang_predict("text").alias("pred_lang"))


def _lang_pred_sql_parts() -> tuple[str, str]:
    """(score-column SQL, argmax CASE over those columns) — shared by
    the per-doc lang-ID oracle and the mismatch-report oracle so the
    prediction rule is spelled once."""
    langs = list(LANG_MARKERS)
    score_cols = ",\n       ".join(
        f"{sql_lang_count(lang)} AS score_{lang}" for lang in langs
    )
    best = f"greatest({', '.join('score_' + lang for lang in langs)})"
    # first-listed language wins ties, matching lang_predict's fold order
    pred = "CASE\n"
    pred += f"         WHEN {best} = 0 THEN 'und'\n"
    for lang in langs:
        pred += f"         WHEN score_{lang} = {best} THEN '{lang}'\n"
    pred += "         ELSE 'und' END"
    return score_cols, pred


def _lang_sql() -> str:
    langs = list(LANG_MARKERS)
    score_cols, pred = _lang_pred_sql_parts()
    return f"""
WITH scored AS (
  SELECT doc_id, lang,
       {score_cols}
  FROM documents
)
SELECT doc_id, lang, {', '.join('score_' + lang for lang in langs)},
       {pred} AS pred_lang
FROM scored
"""


TEXT_LANG_ID_SQL = _lang_sql()


def lang_mismatch_report(docs: DataFrame) -> DataFrame:
    """Per-(source, labeled-lang) mislabeling audit: how often the
    marker-stopword predictor disagrees with the upstream ``lang``
    label — the data-quality check a pipeline runs before trusting
    provider language tags for mixture weighting or per-lang filters
    (mislabeled pockets silently skew both).

    ``(source, lang, n_docs, n_mismatch, mismatch_ratio)`` ordered by
    (source, lang); the predictor is byte-identical to `text_lang_id`
    (shared `lang_predict` / shared SQL argmax), so the report and the
    per-doc face can never disagree.

    Scale: map-side prediction (per-row marker counts, no shuffle),
    then ONE partial-aggregated groupBy on (source, lang) — output is
    sources × languages rows, trivially small at any corpus size.
    """
    per = docs.select("source", "lang", lang_predict("text").alias("_pred"))
    return (
        per.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("_pred") != F.col("lang"), 1).otherwise(0))
            .cast("long")
            .alias("n_mismatch"),
        )
        .withColumn(
            "mismatch_ratio", F.round(F.col("n_mismatch") / F.col("n_docs"), 6)
        )
        .orderBy("source", "lang")
    )


def _lang_mismatch_sql() -> str:
    score_cols, pred = _lang_pred_sql_parts()
    return f"""
WITH scored AS (
  SELECT source, lang,
       {score_cols}
  FROM documents
),
labeled AS (
  SELECT source, lang, {pred} AS pred_lang
  FROM scored
)
SELECT source, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN pred_lang <> lang THEN 1 ELSE 0 END) AS BIGINT)
         AS n_mismatch,
       round(sum(CASE WHEN pred_lang <> lang THEN 1 ELSE 0 END)
             / count(*), 6) AS mismatch_ratio
FROM labeled
GROUP BY source, lang
ORDER BY source, lang
"""


LANG_MISMATCH_SQL = _lang_mismatch_sql()


def text_fingerprints(docs: DataFrame) -> DataFrame:
    """Content fingerprints: raw-md5 of text + order-insensitive token-set
    fingerprint (document fingerprinting primitive)."""
    return docs.select(
        "doc_id",
        F.md5("text").alias("md5_text"),
        doc_fingerprint("text").alias("tokenset_fp"),
    )


TEXT_FINGERPRINTS_SQL = """
WITH toks AS (
  SELECT doc_id, text,
         list_sort(list_distinct(list_filter(
             regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''))) AS t
  FROM documents
)
SELECT doc_id,
       md5(text) AS md5_text,
       md5(array_to_string(t, ' ')) AS tokenset_fp
FROM toks
"""


def token_stats_by_source(docs: DataFrame) -> DataFrame:
    """Corpus token statistics per source: docs, tokens, BPE-ish subword
    estimate (tokens ≈ words + 0.3 × long-word surplus), chars."""
    from export_oltp_to_olap_spark.functions.text import tokens

    toks = tokens("text")
    long_toks = F.size(F.filter(toks, lambda x: F.length(x) > 6)).cast("long")
    per_doc = docs.select(
        "source",
        F.size(toks).cast("long").alias("n_tokens"),
        long_toks.alias("n_long"),
        F.length("text").cast("long").alias("n_chars"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
            (F.sum("n_tokens") + (F.sum("n_long") * 3) / 10).alias("est_bpe_tokens"),
        )
        .orderBy("source")
    )


TOKEN_STATS_SQL = """
WITH per_doc AS (
  SELECT source,
         CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                              x -> x <> '' AND length(x) > 6)) AS BIGINT) AS n_long,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_tokens) AS BIGINT) + (CAST(SUM(n_long) AS BIGINT) * 3) / 10 AS est_bpe_tokens
FROM per_doc
GROUP BY source
ORDER BY source
"""


def ngram_diversity_by_source(docs: DataFrame, max_n: int = 3) -> DataFrame:
    """Per-source n-gram diversity: the corpus self-repetition signal.

    For each source and each n in 1..``max_n``, the total n-gram count
    and the DISTINCT n-gram count across ALL the source's documents —
    the corpus-level generalization of type-token ratio.  A source whose
    distinct ratio collapses as n grows is internally repetitive
    (templated / boilerplate-heavy) and gets down-weighted in a training
    mixture; `text_repetition` measures the same signal WITHIN one
    document, this measures it ACROSS the source.

    Long output shape ``(source, n, total_grams, distinct_grams,
    distinct_ratio)`` — no pivot, so adding n-levels never changes the
    schema.

    Scale: one exploded (source, n, gram) stream (map-side fan-out,
    ~max_n rows per token), aggregated in TWO stages: first
    ``groupBy(source, n, gram)`` — partial aggregation collapses the
    repeated grams map-side, and the shuffle keys on the
    high-cardinality md5'd gram so no reducer owns a whole (source, n)
    group — then a tiny second groupBy folds the per-gram counts into
    totals + distinct counts.  This replaces the single
    count+count_distinct form, whose Expand doubled the exploded
    stream and whose (source, n) shuffle keyed everything into
    |sources|×max_n partitions (measured 4× slower at sf0.1, and a
    skew bomb at corpus scale).  Fan-out parallelism comes from
    spreading the DOCS before the explode, never the gram stream.
    """
    base = spread_for_compute(docs.select("source", "text"))
    per_n = []
    for n in range(1, max_n + 1):
        grams = word_shingles("text", n) if n > 1 else tokens("text")
        per_n.append(
            base.select(
                "source",
                F.lit(n).alias("n"),
                F.explode(grams).alias("gram"),
            )
        )
    exploded = per_n[0]
    for other in per_n[1:]:
        exploded = exploded.unionByName(other)
    return (
        exploded.select("source", "n", F.md5("gram").alias("g"))
        .groupBy("source", "n", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("source", "n")
        .agg(
            F.sum("c").cast("long").alias("total_grams"),
            F.count(F.lit(1)).cast("long").alias("distinct_grams"),
        )
        .select(
            "source",
            "n",
            "total_grams",
            "distinct_grams",
            F.round(F.col("distinct_grams") / F.col("total_grams"), 6).alias(
                "distinct_ratio"
            ),
        )
        .orderBy("source", "n")
    )


def _ngram_diversity_sql(max_n: int = 3) -> str:
    """DuckDB restatement of `ngram_diversity_by_source`."""
    toks = SQL_TOKENS.format(t="text")
    arms = []
    for n in range(1, max_n + 1):
        if n == 1:
            arms.append(
                f"SELECT source, 1 AS n, u.g FROM toks, unnest(t) AS u(g)"
            )
        else:
            arms.append(
                f"""SELECT source, {n} AS n, array_to_string(t[i:i+{n - 1}], ' ') AS g
  FROM toks, unnest(generate_series(1, greatest(len(t) - {n - 1}, 0))) AS u(i)"""
            )
    union = "\n  UNION ALL\n  ".join(arms)
    return f"""
WITH toks AS (
  SELECT source, {toks} AS t FROM documents
),
exploded AS (
  {union}
)
SELECT source, CAST(n AS INT) AS n,
       CAST(count(*) AS BIGINT) AS total_grams,
       CAST(count(DISTINCT md5(g)) AS BIGINT) AS distinct_grams,
       round(count(DISTINCT md5(g)) / count(*), 6) AS distinct_ratio
FROM exploded
GROUP BY source, n
ORDER BY source, n
"""


NGRAM_DIVERSITY_SQL = _ngram_diversity_sql(3)


BOILERPLATE_TOP_K = 10


def _boilerplate_counts(docs: DataFrame, n: int = 2):
    """(per-(source, gram) doc_count, per-source n_docs) — the
    additive-monoid halves of the boilerplate scan.  Both frames are
    PERSISTABLE standing tables: counts merge across batches by SUM,
    which is what makes the delta face exact."""
    per_doc = spread_for_compute(
        docs.select("source", "doc_id", "text"), "doc_id"
    ).select(
        "source",
        F.explode(F.array_distinct(word_shingles("text", n))).alias("gram"),
    )
    counts = per_doc.groupBy("source", "gram").agg(
        F.count(F.lit(1)).alias("doc_count")
    )
    totals = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return counts, totals


def _boilerplate_rank(counts: DataFrame, totals: DataFrame, top_k: int) -> DataFrame:
    """Shared tail: broadcast totals, per-source top-k, majority flag."""
    w = Window.partitionBy("source").orderBy(F.desc("doc_count"), "gram")
    return (
        counts.join(F.broadcast(totals), "source")
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= top_k)
        .select(
            "source",
            "gram",
            "doc_count",
            "n_docs",
            F.round(F.col("doc_count") / F.col("n_docs"), 6).alias("df_ratio"),
            (2 * F.col("doc_count") >= F.col("n_docs")).alias("is_boilerplate"),
        )
        .orderBy("source", F.desc("doc_count"), "gram")
    )


def boilerplate_ngrams(docs: DataFrame, n: int = 2, top_k: int = BOILERPLATE_TOP_K) -> DataFrame:
    """Per-source boilerplate candidates: the ``top_k`` n-grams by
    DOCUMENT frequency within each source — the template/banner
    detection pass a web-corpus pipeline runs before training
    (navigation bars, license footers, and cookie banners repeat
    across a source's pages; content n-grams don't).  The dual of
    `tfidf_top_terms` (which surfaces what makes a source DIFFERENT,
    this surfaces what a source repeats) and of `ngram_diversity_by_
    source` (corpus-level ratio, no named grams).

    ``(source, gram, doc_count, n_docs, df_ratio, is_boilerplate)``;
    ``is_boilerplate`` applies the scale-free majority rule
    ``2·doc_count ≥ n_docs`` by integer cross-multiplication (the
    synthetic fixture peaks near df 0.25, so the flag is honestly
    false there — variety rides on doc_count, and the flag mechanics
    are pinned on a crafted templated corpus in test_round10_ops.py).
    Ties rank deterministically by gram text.

    Scale: per-doc DISTINCT grams fan out map-side (`spread_for_
    compute` first — single-file parquet inputs otherwise explode
    one-threaded), then ONE partial-aggregated groupBy on
    (source, gram), a broadcast of per-source totals (one row per
    source), and a per-source top-k window whose input is already
    collapsed to distinct grams.  No per-row quadratic work anywhere.
    """
    counts, totals = _boilerplate_counts(docs, n)
    return _boilerplate_rank(counts, totals, top_k)


BOILERPLATE_NGRAMS_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, {SQL_TOKENS.format(t="text")} AS t FROM documents
),
grams AS (
  SELECT source, doc_id,
         unnest(list_distinct(CASE WHEN len(t) >= 2
              THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
              ELSE [] END)) AS gram
  FROM toks
),
nd AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
),
df AS (
  SELECT source, gram, CAST(count(*) AS BIGINT) AS doc_count
  FROM grams GROUP BY source, gram
),
ranked AS (
  SELECT d.source, gram, doc_count, n_docs,
         ROW_NUMBER() OVER (PARTITION BY d.source
                            ORDER BY doc_count DESC, gram) AS rk
  FROM df d JOIN nd USING (source)
)
SELECT source, gram, doc_count, n_docs,
       round(doc_count / n_docs, 6) AS df_ratio,
       (2 * doc_count >= n_docs) AS is_boilerplate
FROM ranked
WHERE rk <= {BOILERPLATE_TOP_K}
ORDER BY source, doc_count DESC, gram
""".strip()


def boilerplate_ngrams_delta(
    new_docs: DataFrame,
    standing_counts: DataFrame,
    standing_totals: DataFrame,
    n: int = 2,
    top_k: int = BOILERPLATE_TOP_K,
) -> DataFrame:
    """`boilerplate_ngrams` for an append-only batch against the
    persisted standing tables (`_boilerplate_counts` output): gram doc
    counts and per-source totals are sums, so the merge is exact and
    nothing re-tokenizes the standing corpus."""
    d_counts, d_totals = _boilerplate_counts(new_docs, n)
    return _boilerplate_rank(
        maintain_monoid(standing_counts, ["source", "gram"], ["doc_count"], added=d_counts),
        maintain_monoid(standing_totals, ["source"], ["n_docs"], added=d_totals),
        top_k,
    )


def boilerplate_delta_fixture(docs: DataFrame) -> DataFrame:
    """Fixture face: the shared append batch; the standing tables derive
    in-call (persisted in production).  Oracle = the full-rebuild SQL."""
    standing, new_docs = split_at_cut(docs)
    sc, st = _boilerplate_counts(standing)
    return boilerplate_ngrams_delta(new_docs, sc, st)


def boilerplate_ngrams_retract(
    deleted_docs: DataFrame,
    standing_counts: DataFrame,
    standing_totals: DataFrame,
    n: int = 2,
    top_k: int = BOILERPLATE_TOP_K,
) -> DataFrame:
    """Delete maintenance of the standing boilerplate tables: a doc
    counts once per distinct gram, so deletes subtract the tombstoned
    docs' own gram rows and totals; grams and sources reaching zero
    leave.  Tokenizes the deleted docs only."""
    d_counts, d_totals = _boilerplate_counts(deleted_docs, n)
    return _boilerplate_rank(
        maintain_monoid(standing_counts, ["source", "gram"], ["doc_count"], removed=d_counts),
        maintain_monoid(standing_totals, ["source"], ["n_docs"], removed=d_totals),
        top_k,
    )


def boilerplate_retract_fixture(docs: DataFrame) -> DataFrame:
    """Fixture face: the shared delete batch; standing tables derive
    in-call (persisted in production).  Oracle = the full-rebuild SQL
    over the survivors."""
    sc, st = _boilerplate_counts(docs)
    return boilerplate_ngrams_retract(tombstoned(docs), sc, st)


BOILERPLATE_RETRACT_SQL = f"""
WITH {SURVIVORS_CTE},
{BOILERPLATE_NGRAMS_SQL.replace("FROM documents", "FROM survivors").removeprefix("WITH ")}
""".strip()


def token_count_bpe(docs: DataFrame) -> DataFrame:
    """Whitespace tokens + a BPE-ish subword estimate per document.

    The subword estimate charges ceil(len(word)/4) pieces per word — the
    standard ~4-chars-per-token heuristic — as a per-row array reduction
    (no shuffle, codegen-friendly arithmetic identical in DuckDB).
    """
    toks = tokens("text")
    bpe = F.aggregate(
        F.transform(toks, lambda t: F.ceil(F.length(t) / F.lit(4.0))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_ws_tokens"),
        bpe.alias("n_bpe_tokens"),
    )


TOKEN_COUNT_BPE_SQL = f"""
SELECT doc_id,
       CAST(len({SQL_TOKENS.format(t="text")}) AS BIGINT) AS n_ws_tokens,
       CAST(list_sum(list_transform({SQL_TOKENS.format(t="text")},
                                    t -> CAST(ceil(len(t) / 4.0) AS BIGINT)))
            AS BIGINT) AS n_bpe_tokens
FROM documents
"""


def tfidf_top_terms(docs: DataFrame, k: int = 5) -> DataFrame:
    """Top-``k`` characteristic terms per source by tf-idf.

    The corpus-profiling shape: term frequency per (source, term), source
    document frequency per term, idf = ln(n_sources / df).  Two hash
    aggregations (both partial-agg collapsible) + one broadcast of the
    tiny per-term df table + a per-source top-k window.  Scores are
    rounded to 6 decimals BEFORE ranking so the ordering (and therefore
    the emitted row set) is engine-deterministic; ties break on term.
    """
    from pyspark.sql import Window

    from export_oltp_to_olap_spark.functions.text import tokens

    term_src = docs.select("source", F.explode(tokens("text")).alias("term"))
    tf = term_src.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_src = docs.agg(F.count_distinct("source").alias("n_src"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n_src))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log(F.col("n_src").cast("double") / F.col("df")), 6
            ),
        )
    )
    w = Window.partitionBy("source").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("source", "term", "tf", "df", "tfidf", "rank")
    )


TFIDF_TOP_TERMS_SQL = f"""
WITH toks AS (
  SELECT source, unnest({SQL_TOKENS.format(t="text")}) AS term FROM documents
),
tf AS (SELECT source, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
ns AS (SELECT count(DISTINCT source) AS n_src FROM documents),
scored AS (
  SELECT tf.source, tf.term, tf.tf, dfx.df,
         round(tf.tf * ln(CAST(n_src AS DOUBLE) / df), 6) AS tfidf
  FROM tf JOIN dfx USING (term) CROSS JOIN ns
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source ORDER BY tfidf DESC, term)
            AS rank
  FROM scored
)
SELECT source, term, tf, df, tfidf, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 5
"""


def text_repetition(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition metrics per document: most-frequent-token
    and most-frequent-bigram coverage ratios.

    Entirely per-row higher-order-function arithmetic — zero shuffles,
    whole-stage-codegen friendly, and the counts are integers so the
    ratios are engine-exact.  Both multiplicity maxima use the shared
    O(L log L) run-length fold (`max_multiplicity`), not the
    O(distinct × n) double scan, so per-row work stays near-linear on
    arbitrarily long documents (the VERDICT r9 Gopher finding applied
    here too); no aggregation state at all.
    """
    from export_oltp_to_olap_spark.functions.text import max_multiplicity, tokens

    toks = tokens("text")
    t = F.col("_t")
    # Empty-token docs keep the NULL the oracle's list_max([]) yields.
    top_tok = F.when(F.size(t) > 0, max_multiplicity(t))
    bigrams = F.when(
        F.size(t) >= 2,
        F.expr(
            "transform(sequence(1, size(_t) - 1),"
            " i -> concat(element_at(_t, i), ' ', element_at(_t, i + 1)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    bg = F.col("_bg")
    top_bg = F.when(F.size(bg) > 0, max_multiplicity(bg)).otherwise(F.lit(0))
    return (
        docs.select("doc_id", toks.alias("_t"))
        .withColumn("_bg", bigrams)
        .select(
            "doc_id",
            F.size(t).cast("long").alias("n_tokens"),
            top_tok.cast("long").alias("top_token_count"),
            (top_tok / F.greatest(F.size(t), F.lit(1))).alias("top_token_ratio"),
            top_bg.cast("long").alias("top_bigram_count"),
            (top_bg / F.greatest(F.size(bg), F.lit(1))).alias("top_bigram_ratio"),
        )
    )


TEXT_REPETITION_SQL = f"""
WITH base AS (
  SELECT doc_id, {SQL_TOKENS.format(t="text")} AS t FROM documents
),
bg AS (
  SELECT doc_id, t,
         CASE WHEN len(t) >= 2
              THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
              ELSE [] END AS b
  FROM base
),
counted AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_tokens,
         CAST(list_max(list_transform(list_distinct(t),
              d -> len(list_filter(t, x -> x = d)))) AS BIGINT) AS top_token_count,
         CAST(CASE WHEN len(b) > 0
              THEN list_max(list_transform(list_distinct(b),
                   d -> len(list_filter(b, x -> x = d))))
              ELSE 0 END AS BIGINT) AS top_bigram_count,
         CAST(len(b) AS BIGINT) AS n_bigrams
  FROM bg
)
SELECT doc_id, n_tokens, top_token_count,
       top_token_count / greatest(n_tokens, 1) AS top_token_ratio,
       top_bigram_count,
       top_bigram_count / greatest(n_bigrams, 1) AS top_bigram_ratio
FROM counted
"""


def frequent_terms_sketch(docs: DataFrame, k: int = 10, max_tracked: int = 65536) -> DataFrame:
    """Per-source heavy-hitter terms via the ``approx_top_k`` sketch —
    the frequent-items member of the mergeable-sketch family (HLL
    distinct counts, GK quantiles, and now top-k).

    Scale shape: tokens partial-aggregate into one bounded sketch per
    (partition, source) map-side, and only the fixed-size sketches
    shuffle — the corpus's token stream never moves.  ``max_tracked``
    bounds sketch memory; when the per-source distinct-term count fits
    inside it, the estimates are EXACT (pinned by
    tests/test_text_sketches.py), which is also why this registers
    rows-only: under real cardinality pressure the counts are estimates
    and tie-order at the k boundary is sketch-internal, so a cross-engine
    value hash would test the tie, not the operator.
    """
    toks = docs.select("source", F.explode(tokens("text")).alias("term")).where(
        F.col("term") != ""
    )
    agg = toks.groupBy("source").agg(
        F.expr(f"approx_top_k(term, {k}, {max_tracked})").alias("top")
    )
    return (
        agg.select("source", F.explode("top").alias("t"))
        .select(
            "source",
            F.col("t.item").alias("term"),
            F.col("t.count").cast("long").alias("est_count"),
        )
        .orderBy("source", F.col("est_count").desc(), "term")
    )


# ---------------------------------------------------------------------------
# PII scan / redaction
# ---------------------------------------------------------------------------

# (category, pattern, replacement) over the LOWERCASED text, applied in
# this order — the redaction pipeline every public-web training corpus
# runs before release.  Patterns are deliberately restricted to syntax
# with identical semantics in Java regex (Spark) and RE2 (DuckDB): no
# lookaround, no backrefs, character classes + bounded repeats + \b only.
# Email first (its local part may embed digit runs the phone/IP patterns
# would otherwise claim); counts are taken per-pattern on the ORIGINAL
# text so they are independent of redaction order.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[a-z0-9._%+\-]+@[a-z0-9.\-]+\.[a-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
)


def pii_scan(docs: DataFrame) -> DataFrame:
    """Per-doc PII hit counts + md5 fingerprint of the redacted text.

    Pure built-in regexp expressions (codegen'd, zero UDFs, zero
    shuffles — a map-only projection safe to fuse under any plan).  The
    fingerprint, not the redacted text itself, is emitted so the output
    stays narrow and hashable; `pii_redact` returns the full column for
    pipeline use.
    """
    lowered = F.lower(F.col("text"))
    counts = [
        F.regexp_count(lowered, F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    return docs.select(
        "doc_id",
        *counts,
        sum(
            (F.regexp_count(lowered, F.lit(pat)).cast("long") for _, pat, _ in PII_PATTERNS),
            F.lit(0).cast("long"),
        ).alias("n_pii"),
        F.md5(pii_redact(lowered)).alias("redacted_fp"),
    )


def pii_redact(text_col):
    """The redacted (lowercased) text column: every PII match replaced
    by its category tag, in `PII_PATTERNS` order."""
    out = text_col
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def _pii_sql() -> str:
    count_cols = ",\n       ".join(
        f"CAST(len(regexp_extract_all(lower(text), '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    total = " + ".join(
        f"len(regexp_extract_all(lower(text), '{pat}'))" for _, pat, _ in PII_PATTERNS
    )
    redacted = "lower(text)"
    for _, pat, repl in PII_PATTERNS:
        redacted = f"regexp_replace({redacted}, '{pat}', '{repl}', 'g')"
    return f"""
SELECT doc_id,
       {count_cols},
       CAST({total} AS BIGINT) AS n_pii,
       md5({redacted}) AS redacted_fp
FROM documents
"""


PII_SCAN_SQL = _pii_sql()


# ---------------------------------------------------------------------------
# Split drift report (train-vs-test distribution shift)
# ---------------------------------------------------------------------------


def split_drift_report(docs: DataFrame) -> DataFrame:
    """Per-bin distribution comparison of the quality score between the
    train and test splits — the pre-training sanity check that a
    deterministic split didn't land a skewed eval set (and, run over
    time-versioned corpora, the drift monitor between corpus releases).

    Quality scores bin into 10 fixed-width buckets; each bin reports
    exact counts and the train/test probability masses plus their
    absolute difference (per-bin total-variation contribution — TVD/2 is
    the sum; deliberately NOT KL/PSI: no logarithms, so every number is
    pure integer-ratio arithmetic, bit-identical cross-engine).

    Scale: split assignment and binning are map-side; one partial-
    aggregated groupBy on 10 bins; the pivot is a 10-row driver-side
    reshape Catalyst folds into the same agg.
    """
    from export_oltp_to_olap_spark.operators.sampling import assign_splits

    assigned = assign_splits(docs.select("doc_id", "text"), "doc_id")
    binned = assigned.where(F.col("split").isin("train", "test")).select(
        "split",
        F.least(F.floor(quality_score("text") * 10).cast("int"), F.lit(9)).alias("bin"),
    )
    counts = (
        binned.groupBy("bin")
        .pivot("split", ["train", "test"])
        .count()
        .na.fill(0, ["train", "test"])
    )
    # greatest(…, 1): an EMPTY split (tiny corpus, skewed hash draw)
    # must report zero mass, not divide by zero / diverge from DuckDB
    tot_train = F.greatest(F.sum("train").over(Window.partitionBy()), F.lit(1))
    tot_test = F.greatest(F.sum("test").over(Window.partitionBy()), F.lit(1))
    p = F.round(F.col("train") / tot_train, 6)
    q = F.round(F.col("test") / tot_test, 6)
    return (
        counts.select(
            F.col("bin").cast("long").alias("bin"),
            F.col("train").cast("long").alias("n_train"),
            F.col("test").cast("long").alias("n_test"),
            p.alias("p_train"),
            q.alias("p_test"),
            F.round(F.abs(p - q), 6).alias("abs_diff"),
        )
        .orderBy("bin")
    )


SPLIT_DRIFT_SQL = rf"""
WITH {quality_feats_cte()},
scored AS (
  SELECT doc_id, {QUALITY_EXPR_SQL} AS quality FROM feats
),
assigned AS (
  SELECT s.doc_id, s.quality,
         CASE
           WHEN CAST('0x' || substr(md5('split:' || CAST(s.doc_id AS VARCHAR)), 1, 4) AS INTEGER)
                < 52428 THEN 'train'
           WHEN CAST('0x' || substr(md5('split:' || CAST(s.doc_id AS VARCHAR)), 1, 4) AS INTEGER)
                >= 58982 THEN 'test'
         END AS split
  FROM scored s
),
binned AS (
  SELECT split, least(CAST(floor(quality * 10) AS INTEGER), 9) AS bin
  FROM assigned WHERE split IS NOT NULL
),
counts AS (
  SELECT bin,
         CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
  FROM binned GROUP BY bin
)
SELECT CAST(bin AS BIGINT) AS bin,
       n_train,
       n_test,
       round(n_train / (SELECT greatest(sum(n_train), 1) FROM counts), 6) AS p_train,
       round(n_test / (SELECT greatest(sum(n_test), 1) FROM counts), 6) AS p_test,
       round(abs(round(n_train / (SELECT greatest(sum(n_train), 1) FROM counts), 6)
                 - round(n_test / (SELECT greatest(sum(n_test), 1) FROM counts), 6)), 6) AS abs_diff
FROM counts
ORDER BY bin
"""


def adaptive_quality_gate(docs: DataFrame, keep_frac_pct: int = 50) -> DataFrame:
    """Per-source ADAPTIVE quality gating: keep each source's top
    ``keep_frac_pct``% of documents by within-source quality rank.

    A single global quality threshold (`plans/curation.py` QUALITY_MIN)
    over-prunes clean-but-plain sources and under-prunes noisy ones;
    ranking WITHIN each source (percent_rank over (quality, doc_id) —
    deterministic tiebreak) adapts the bar to each source's own
    distribution, the per-domain quality-bucketing move in CCNet-style
    pipelines.  Output: one summary row per source — doc count, kept
    count, and the realized quality cutoff (min kept quality, 6 dp).

    Scale: one shuffle on source for the window rank, one per-source
    agg on the same partitioning (no second exchange).  A source too
    large to window-sort in its partitions is the case for the
    threshold form (`stratified_sample`) instead.
    """
    w = Window.partitionBy("source").orderBy("quality", "doc_id")
    ranked = (
        spread_for_compute(docs.select("doc_id", "source", "text"), "source")
        .withColumn("quality", quality_score("text"))
        .withColumn("pr", F.percent_rank().over(w))
    )
    kept_min = F.min(F.when(F.col("kept"), F.col("quality")))
    return (
        ranked.withColumn("kept", F.col("pr") >= F.lit(1 - keep_frac_pct / 100.0))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("kept").cast("long")).cast("long").alias("n_kept"),
            F.round(kept_min, 6).alias("cutoff_quality"),
        )
        .orderBy("source")
    )


ADAPTIVE_QUALITY_SQL = rf"""
WITH {quality_feats_cte()},
scored AS (
  SELECT doc_id, {QUALITY_EXPR_SQL} AS quality FROM feats
),
ranked AS (
  SELECT d.source, s.quality,
         percent_rank() OVER (PARTITION BY d.source ORDER BY s.quality, s.doc_id) AS pr
  FROM scored s JOIN documents d ON d.doc_id = s.doc_id
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN pr >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(min(CASE WHEN pr >= 0.5 THEN quality END), 6) AS cutoff_quality
FROM ranked
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, arXiv:2112.11446 Appendix A1)
# ---------------------------------------------------------------------------

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(docs: DataFrame, ordered: bool = True) -> DataFrame:
    """Per-doc Gopher rule flags + the composed keep verdict — the
    published RULE-set filter (word-count bounds, mean word length,
    symbol ratio, alpha-word ratio, stop-word floor, bullet/ellipsis
    line shares, duplicate-line share, top-bigram coverage), distinct
    from the blended `text_quality` score: production pipelines run
    BOTH (hard rules gate, the score ranks survivors).

    Every threshold is evaluated by INTEGER cross-multiplication
    (``10*n_sym <= n_tokens`` instead of ``n_sym/n_tokens <= 0.1``) so
    the booleans are engine-exact — no float division anywhere.

    Documented deviations from the published A1 rules (all three keep
    the signal while staying engine-exact):

    * top-bigram: count-coverage over bigrams, not Gopher's
      character-coverage fraction (same monotone signal, no float
      character arithmetic).
    * symbol ratio: ``#`` and ``...`` counts are SUMMED into one
      0.1-threshold test; Gopher applies 0.1 to each symbol
      separately, so this filter is strictly tighter (a doc at 6% of
      each fails here, passes published).
    * stop-word floor: counts DISTINCT stop words present (≥2 of the
      8), not total occurrences — stricter on pathological docs that
      repeat one stop word, identical on normal prose.

    Entirely per-row expressions — zero shuffles, no aggregation
    state; at 100 TB this is a map-only scan like `text_repetition`.
    The top-bigram count is a SORT + single linear pass per row
    (`max_multiplicity`'s run-length fold), so per-row work is
    O(L log L) in the document's token count
    — the naive distinct×filter form is O(L²), which at the rule's
    own 100k-token upper bound would be ~10^10 interpreted HOF
    comparisons on a single row (a straggler-task generator; pinned
    by tests/test_round9_ops.py::test_gopher_top_bigram_long_doc).
    """
    from export_oltp_to_olap_spark.functions.text import max_multiplicity, tokens

    t = F.col("_t")
    lines = F.col("_lines")
    bg = F.col("_bg")
    bigrams = F.when(
        F.size(t) >= 2,
        F.expr(
            "transform(sequence(1, size(_t) - 1),"
            " i -> concat(element_at(_t, i), ' ', element_at(_t, i + 1)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = docs.select(
        "doc_id", "text", tokens("text").alias("_t"), F.split("text", "\n").alias("_lines")
    ).withColumn("_bg", bigrams)

    n = F.size(t).cast("long")
    tot_chars = F.aggregate(
        F.transform(t, lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda a, v: a + v,
    )
    n_alpha = F.size(F.filter(t, lambda w: w.rlike("[a-z]"))).cast("long")
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(t), F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
        )
    ).cast("long")
    n_hash = (
        F.length("text") - F.length(F.regexp_replace("text", "#", ""))
    ).cast("long")
    n_ellipsis = F.regexp_count("text", F.lit(r"\.\.\.")).cast("long")
    n_lines = F.size(lines).cast("long")
    n_bullet = F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]"))).cast(
        "long"
    )
    n_ell_lines = F.size(
        F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))
    ).cast("long")
    n_dup_lines = (n_lines - F.size(F.array_distinct(lines))).cast("long")
    # Max bigram multiplicity via the shared O(L log L) run-length fold
    # (functions/text.py::max_multiplicity) — the distinct×filter form
    # is per-row O(L²), quadratic in a single document's length.
    top_bg = F.when(F.size(bg) > 0, max_multiplicity(bg)).otherwise(
        F.lit(0)
    ).cast("long")
    n_bg = F.size(bg).cast("long")

    flags = {
        "flag_word_count": (n >= 50) & (n <= 100_000),
        "flag_mean_word_len": (3 * n <= tot_chars) & (tot_chars <= 10 * n),
        "flag_symbol_ratio": 10 * (n_hash + n_ellipsis) <= n,
        "flag_alpha_words": 5 * n_alpha >= 4 * n,
        "flag_stopwords": n_stop >= 2,
        "flag_bullet_lines": 10 * n_bullet <= 9 * n_lines,
        "flag_ellipsis_lines": 10 * n_ell_lines <= 3 * n_lines,
        "flag_dup_lines": 10 * n_dup_lines <= 3 * n_lines,
        "flag_top_bigram": 100 * top_bg <= 18 * F.greatest(n_bg, F.lit(1)),
    }
    keep = None
    for c in flags.values():
        keep = c if keep is None else (keep & c)
    out = base.select(
        "doc_id",
        n.alias("n_tokens"),
        *[v.alias(k) for k, v in flags.items()],
        keep.alias("keep"),
    )
    # ordered=False: the streaming-gate form — global sort is illegal
    # on an unbounded stream and meaningless at ingest (pure map plan
    # otherwise; tests/test_stateless_ops_streaming.py).
    return out.orderBy("doc_id") if ordered else out


GOPHER_QUALITY_SQL = f"""
WITH base AS (
  SELECT doc_id, text,
         {SQL_TOKENS.format(t="text")} AS t,
         string_split(text, chr(10)) AS lines
  FROM documents
),
bg AS (
  SELECT *, CASE WHEN len(t) >= 2
              THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
              ELSE [] END AS b
  FROM base
),
m AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n,
         CAST(COALESCE(list_sum(list_transform(t, w -> length(w))), 0) AS BIGINT) AS tot_chars,
         CAST(len(list_filter(t, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha,
         CAST(len(list_intersect(list_distinct(t),
              ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_stop,
         CAST(length(text) - length(regexp_replace(text, '#', '', 'g')) AS BIGINT) AS n_hash,
         CAST(len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS n_ellipsis,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*•]'))) AS BIGINT) AS n_bullet,
         CAST(len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$'))) AS BIGINT) AS n_ell_lines,
         CAST(len(lines) - len(list_distinct(lines)) AS BIGINT) AS n_dup_lines,
         CAST(CASE WHEN len(b) > 0
              THEN list_max(list_transform(list_distinct(b),
                   d -> len(list_filter(b, x -> x = d))))
              ELSE 0 END AS BIGINT) AS top_bg,
         CAST(len(b) AS BIGINT) AS n_bg
  FROM bg
)
SELECT doc_id, n AS n_tokens,
       (n >= 50 AND n <= 100000) AS flag_word_count,
       (3 * n <= tot_chars AND tot_chars <= 10 * n) AS flag_mean_word_len,
       (10 * (n_hash + n_ellipsis) <= n) AS flag_symbol_ratio,
       (5 * n_alpha >= 4 * n) AS flag_alpha_words,
       (n_stop >= 2) AS flag_stopwords,
       (10 * n_bullet <= 9 * n_lines) AS flag_bullet_lines,
       (10 * n_ell_lines <= 3 * n_lines) AS flag_ellipsis_lines,
       (10 * n_dup_lines <= 3 * n_lines) AS flag_dup_lines,
       (100 * top_bg <= 18 * greatest(n_bg, 1)) AS flag_top_bigram,
       ((n >= 50 AND n <= 100000)
        AND (3 * n <= tot_chars AND tot_chars <= 10 * n)
        AND (10 * (n_hash + n_ellipsis) <= n)
        AND (5 * n_alpha >= 4 * n)
        AND (n_stop >= 2)
        AND (10 * n_bullet <= 9 * n_lines)
        AND (10 * n_ell_lines <= 3 * n_lines)
        AND (10 * n_dup_lines <= 3 * n_lines)
        AND (100 * top_bg <= 18 * greatest(n_bg, 1))) AS keep
FROM m
ORDER BY doc_id
""".strip()


# ---------------------------------------------------------------------------
# C4 rule-set filter (Raffel et al. 2020, arXiv:1910.10683 §2.2)
# ---------------------------------------------------------------------------

C4_MIN_WORDS_PER_LINE = 5
C4_MIN_KEPT_LINES = 3

# Shared regex atoms — spelled once so the Spark expressions and the
# DuckDB oracle cannot drift.  Literal chars only (no \uXXXX escapes:
# DuckDB rejects them).
_C4_TERMINAL_RE = '[.!?"]\\s*$'
_C4_WS_RE = "\\s+"


def _c4_line_keep(line: Column) -> Column:
    """C4's line retention predicate: ends in terminal punctuation,
    holds ≥5 whitespace words, and does not mention javascript."""
    words = F.filter(F.split(line, _C4_WS_RE), lambda w: w != F.lit(""))
    return (
        line.rlike(_C4_TERMINAL_RE)
        & (F.size(words) >= C4_MIN_WORDS_PER_LINE)
        & ~F.contains(F.lower(line), F.lit("javascript"))
    )


def c4_quality_flags(docs: DataFrame, ordered: bool = True) -> DataFrame:
    """Per-doc C4 rule flags + the composed keep verdict — the OTHER
    published rule-set filter (C4, Raffel et al. 2020 §2.2), run
    alongside `gopher_quality_flags` exactly as production pipelines
    stack both: line rules (terminal punctuation, ≥5 words, no
    javascript mention) feed a kept-line count; page rules reject
    docs with <3 kept lines, any ``lorem ipsum``, or any curly brace.

    Documented deviations from the published pipeline: the
    "Dirty/Naughty" word-list page rule is omitted (the list itself is
    an external artifact, not reproduced here), and langdetect-based
    English filtering is the separate `text_lang_id` face.  All counts
    are integers; flags are engine-exact.

    Fixture honesty (the `gopher_quality_flags` precedent): the
    synthetic corpus is single-line prose without terminal punctuation,
    so ``n_kept_lines`` is 0 and ``keep`` rejects everything there —
    per-doc hash variety rides on ``n_words``; the rule mechanics are
    pinned by crafted-input tests (tests/test_round10_ops.py).

    Scale: per-row expressions only — zero shuffles, no aggregation
    state, every rule a single linear pass over the line/word arrays
    (the map-only scan shape of `gopher_quality_flags`).
    """
    lines = F.split("text", "\n")
    base = docs.select("doc_id", "text", lines.alias("_lines"))
    words = F.filter(F.split("text", _C4_WS_RE), lambda w: w != F.lit(""))
    n_lines = F.size("_lines").cast("long")
    n_kept = F.size(F.filter(F.col("_lines"), _c4_line_keep)).cast("long")
    flag_min = n_kept >= C4_MIN_KEPT_LINES
    flag_no_lorem = ~F.contains(F.lower("text"), F.lit("lorem ipsum"))
    flag_no_brace = ~F.contains("text", F.lit("{"))
    out = base.select(
        "doc_id",
        n_lines.alias("n_lines"),
        n_kept.alias("n_kept_lines"),
        F.size(words).cast("long").alias("n_words"),
        flag_min.alias("flag_min_sentences"),
        flag_no_lorem.alias("flag_no_lorem"),
        flag_no_brace.alias("flag_no_brace"),
        (flag_min & flag_no_lorem & flag_no_brace).alias("keep"),
    )
    # ordered=False: the streaming-gate form (see gopher_quality_flags).
    return out.orderBy("doc_id") if ordered else out


C4_QUALITY_SQL = f"""
WITH base AS (
  SELECT doc_id, text, string_split(text, chr(10)) AS lines
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(list_filter(lines, l ->
              regexp_matches(l, '{_C4_TERMINAL_RE}')
              AND len(list_filter(regexp_split_to_array(l, '\\s+'), w -> w <> ''))
                  >= {C4_MIN_WORDS_PER_LINE}
              AND NOT contains(lower(l), 'javascript'))) AS BIGINT) AS n_kept_lines,
         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> ''))
              AS BIGINT) AS n_words,
         NOT contains(lower(text), 'lorem ipsum') AS flag_no_lorem,
         NOT contains(text, '{{') AS flag_no_brace
  FROM base
)
SELECT doc_id, n_lines, n_kept_lines, n_words,
       (n_kept_lines >= {C4_MIN_KEPT_LINES}) AS flag_min_sentences,
       flag_no_lorem, flag_no_brace,
       ((n_kept_lines >= {C4_MIN_KEPT_LINES}) AND flag_no_lorem AND flag_no_brace)
         AS keep
FROM m
ORDER BY doc_id
""".strip()


def c4_line_filter(docs: DataFrame, ordered: bool = True) -> DataFrame:
    """The C4 REWRITE face: pages passing the page rules survive with
    only their rule-passing lines, newline-rejoined — the actual
    transformation C4 applies to build the corpus (the flags face
    reports; this face produces the cleaned text).  ``(doc_id,
    n_lines, n_kept_lines, removed_chars, cleaned)``; pages failing
    any page rule are dropped.

    Map-only scan + filter, like the flags face; cross-engine
    behavior pinned on a crafted corpus in tests/test_round10_ops.py
    (the fixture corpus keeps zero lines, so this face is exercised on
    crafted inputs, not registered — the `strip_duplicated_spans`
    convention for rewrite faces with degenerate fixture output).

    ``ordered=False`` drops the presentation sort so the SAME plan runs
    at ingest on a readStream source (global sort is illegal in append
    mode) — rewrite-at-ingest parity pinned in
    tests/test_stateless_ops_streaming.py, closing the last streaming
    asymmetry in the curation surface (VERDICT r10 item 5).
    """
    lines = F.split("text", "\n")
    base = docs.select("doc_id", "text", lines.alias("_lines"))
    kept = F.filter(F.col("_lines"), _c4_line_keep)
    n_kept = F.size(kept).cast("long")
    cleaned = F.array_join(kept, "\n")
    page_ok = (
        (n_kept >= C4_MIN_KEPT_LINES)
        & ~F.contains(F.lower("text"), F.lit("lorem ipsum"))
        & ~F.contains("text", F.lit("{"))
    )
    out = base.where(page_ok).select(
        "doc_id",
        F.size("_lines").cast("long").alias("n_lines"),
        n_kept.alias("n_kept_lines"),
        (F.length("text") - F.length(cleaned)).cast("long").alias("removed_chars"),
        cleaned.alias("cleaned"),
    )
    return out.orderBy("doc_id") if ordered else out


C4_LINE_FILTER_SQL = f"""
WITH base AS (
  SELECT doc_id, text, string_split(text, chr(10)) AS lines
  FROM documents
),
m AS (
  SELECT doc_id, text,
         CAST(len(lines) AS BIGINT) AS n_lines,
         list_filter(lines, l ->
              regexp_matches(l, '{_C4_TERMINAL_RE}')
              AND len(list_filter(regexp_split_to_array(l, '\\s+'), w -> w <> ''))
                  >= {C4_MIN_WORDS_PER_LINE}
              AND NOT contains(lower(l), 'javascript')) AS kept
  FROM base
)
SELECT doc_id, n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept_lines,
       CAST(length(text) - length(array_to_string(kept, chr(10))) AS BIGINT)
         AS removed_chars,
       array_to_string(kept, chr(10)) AS cleaned
FROM m
WHERE len(kept) >= {C4_MIN_KEPT_LINES}
  AND NOT contains(lower(text), 'lorem ipsum')
  AND NOT contains(text, '{{')
ORDER BY doc_id
""".strip()


# ---------------------------------------------------------------------------
# Corpus provenance digest (data-card reproducibility artifact)
# ---------------------------------------------------------------------------


def corpus_digest(docs: DataFrame) -> DataFrame:
    """Per-source + whole-corpus content digest — the reproducibility
    artifact a pipeline publishes with its data card: two runs over the
    same corpus produce identical digests, any changed/added/dropped doc
    changes them.

    The digest is ORDER-INSENSITIVE by construction (commutative
    aggregates over a per-doc 60-bit content hash: modular sum and
    bit-XOR), so it needs no global sort and no per-group state beyond
    two longs — unlike a sorted-concat Merkle digest, it survives a
    billion-doc source on one aggregation pass.  ``source`` NULL row =
    the whole-corpus rollup.

    ``(source, n_docs, n_tokens, sum_digest, xor_digest)`` ordered with
    the rollup row first (NULLS FIRST, stated explicitly both engines).
    """
    from export_oltp_to_olap_spark.functions.text import token_count

    h = F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("decimal(38,0)")
    base = docs.select(
        "source", token_count("text").alias("n_toks"), h.alias("h")
    )
    return (
        base.rollup("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            # 2**63 exceeds a py4j long literal — ship it as a string
            F.pmod(F.sum("h"), F.lit(str(2**63)).cast("decimal(38,0)"))
            .cast("long")
            .alias("sum_digest"),
            F.expr("bit_xor(cast(h as bigint))").alias("xor_digest"),
        )
        .orderBy(F.col("source").asc_nulls_first())
    )


CORPUS_DIGEST_SQL = f"""
WITH base AS (
  SELECT source,
         CAST(len({SQL_TOKENS.format(t="text")}) AS BIGINT) AS n_toks,
         CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS h
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       CAST(sum(CAST(h AS HUGEINT)) % CAST(9223372036854775808 AS HUGEINT) AS BIGINT)
         AS sum_digest,
       bit_xor(h) AS xor_digest
FROM base
GROUP BY ROLLUP (source)
ORDER BY source ASC NULLS FIRST
""".strip()


# ---------------------------------------------------------------------------
# Corpus statistics: Zipf frequency spectrum & cross-source vocabulary overlap
# ---------------------------------------------------------------------------


def token_zipf_spectrum(docs: DataFrame) -> DataFrame:
    """Per-source token frequency-of-frequencies on power-of-two
    buckets — the Zipf/Heaps health artifact a corpus data card
    publishes: how many distinct terms occur [2^b, 2^(b+1)) times and
    how much of the corpus mass they carry.  A source whose spectrum
    collapses into the top buckets is template spam; one that is all
    hapaxes (bucket 0) is noise or OCR garbage.

    ``(source, freq_bucket, bucket_low, n_terms, n_occurrences)``
    ordered by (source, freq_bucket).  Integer-only hash surface; the
    bucket is ``length(bin(cnt)) - 1`` = floor(log2) computed on the
    binary STRING in both engines — never float ``log2`` whose
    exact-power boundaries are not cross-engine safe.

    Scale: one corpus token explode (spread first — the single-file
    parquet scan would explode one-threaded), one partial-agg shuffle
    on (source, token), then a second tiny aggregate on (source,
    bucket) — the same two-pass shape as `ngram_diversity_by_source`.
    No collect, no window, no skew pivot (token counts partial-combine
    map-side).
    """
    toks = spread_for_compute(
        docs.select("doc_id", "source", "text"), "doc_id"
    ).select("source", F.explode(tokens("text")).alias("tok"))
    counts = toks.groupBy("source", "tok").agg(F.count("*").alias("cnt"))
    bucketed = counts.withColumn(
        "freq_bucket", (F.length(F.bin("cnt")) - 1).cast("int")
    )
    return (
        bucketed.groupBy("source", "freq_bucket")
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            F.sum("cnt").cast("long").alias("n_occurrences"),
        )
        .withColumn(
            "bucket_low",
            F.expr("shiftleft(CAST(1 AS BIGINT), freq_bucket)"),
        )
        .select("source", "freq_bucket", "bucket_low", "n_terms", "n_occurrences")
        .orderBy("source", "freq_bucket")
    )


TOKEN_ZIPF_SPECTRUM_SQL = f"""
WITH toks AS (
  SELECT source, unnest({SQL_TOKENS.format(t="text")}) AS tok FROM documents
),
counts AS (
  SELECT source, tok, count(*) AS cnt FROM toks GROUP BY source, tok
)
SELECT source,
       CAST(length(bin(cnt)) - 1 AS INT) AS freq_bucket,
       CAST(CAST(1 AS BIGINT) << (length(bin(cnt)) - 1) AS BIGINT) AS bucket_low,
       CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(cnt) AS BIGINT) AS n_occurrences
FROM counts
GROUP BY source, freq_bucket, bucket_low
ORDER BY source, freq_bucket
""".strip()


VOCAB_OVERLAP_TOP_K = 50


def source_vocab_overlap(docs: DataFrame, k: int = VOCAB_OVERLAP_TOP_K) -> DataFrame:
    """Pairwise source-similarity by top-k vocabulary intersection —
    the cheap integer cousin of a token-distribution divergence, and
    the artifact mixture design consumes (two sources sharing 45/50
    head terms are near-duplicates of each other's domain; upweighting
    both double-counts the domain).

    ``(source_a, source_b, n_common)`` for source_a < source_b, inner
    (zero-overlap pairs are absent by construction in BOTH engines),
    ordered by the pair.  Determinism: counts are exact integers and
    the per-source top-k cut breaks count ties on token ASC (a total
    order shared with the SQL).

    Scale: the (source, token) aggregate partial-combines map-side;
    the per-source top-k window runs over collapsed counts (S
    partitions); the pair join joins two ≤ S·k-row frames — the probe
    side is BROADCAST (S·k is bounded by design: sources are a
    catalog, not data), so no shuffle reaches the join regardless of
    corpus size.
    """
    counts = (
        spread_for_compute(docs.select("doc_id", "source", "text"), "doc_id")
        .select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("source").orderBy(F.col("cnt").desc(), "tok")
    top = (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("source", "tok")
    )
    a = top.select(F.col("source").alias("source_a"), "tok")
    b = top.select(F.col("source").alias("source_b"), "tok")
    return (
        a.join(F.broadcast(b), "tok")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_common"))
        .orderBy("source_a", "source_b")
    )


SOURCE_VOCAB_OVERLAP_SQL = f"""
WITH toks AS (
  SELECT source, unnest({SQL_TOKENS.format(t="text")}) AS tok FROM documents
),
counts AS (
  SELECT source, tok, count(*) AS cnt FROM toks GROUP BY source, tok
),
ranked AS (
  SELECT source, tok,
         row_number() OVER (PARTITION BY source
                            ORDER BY cnt DESC, tok ASC) AS rk
  FROM counts
),
top AS (
  SELECT source, tok FROM ranked WHERE rk <= {VOCAB_OVERLAP_TOP_K}
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS n_common
FROM top a JOIN top b ON a.tok = b.tok AND a.source < b.source
GROUP BY source_a, source_b
ORDER BY source_a, source_b
""".strip()


def doc_length_spectrum(docs: DataFrame) -> DataFrame:
    """Per-source document-length distribution on power-of-two token
    buckets — the data-card companion of `token_zipf_spectrum` (that
    face buckets TERM frequencies; this one buckets DOCUMENT lengths).
    Truncation/padding policy, curriculum banding, and packing
    efficiency all read off this table; a source spiking in the short
    buckets is fragments, one spiking far right needs chunking.

    ``(source, len_bucket, bucket_low, n_docs, n_tokens)`` ordered by
    (source, len_bucket); zero-token docs land in bucket -1 with
    bucket_low 0 (kept distinguishable — they are a data-quality
    signal, not 1-token docs).  Integer-only hash surface; floor-log2
    via the binary-string length, the `token_zipf_spectrum`
    convention.

    Scale: pure map-side bucketing + ONE partial-agg groupBy on
    (source, bucket) — no explode, no window, no join.
    """
    return _spectrum_finish(_doc_length_counts(docs))


def _doc_length_counts(docs: DataFrame) -> DataFrame:
    """The spectrum's standing table: ``(source, len_bucket, n_docs,
    n_tokens)`` — both metrics are commutative monoids (counts/sums),
    which is what makes the delta face below EXACT."""
    n_tok = F.size(tokens("text")).cast("long")
    per_doc = docs.select("source", n_tok.alias("n_tokens"))
    bucketed = per_doc.withColumn(
        "len_bucket",
        F.when(F.col("n_tokens") == 0, F.lit(-1).cast("int")).otherwise(
            (F.length(F.bin("n_tokens")) - 1).cast("int")
        ),
    )
    return bucketed.groupBy("source", "len_bucket").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )


def _spectrum_finish(counts: DataFrame) -> DataFrame:
    return (
        counts.withColumn(
            "bucket_low",
            F.when(F.col("len_bucket") < 0, F.lit(0).cast("long")).otherwise(
                F.expr("shiftleft(CAST(1 AS BIGINT), len_bucket)")
            ),
        )
        .select("source", "len_bucket", "bucket_low", "n_docs", "n_tokens")
        .orderBy("source", "len_bucket")
    )


def doc_length_spectrum_delta(
    new_docs: DataFrame, standing_counts: DataFrame
) -> DataFrame:
    """`doc_length_spectrum` for an append-only batch against the
    persisted standing count table: per-(source, bucket) doc counts and
    token sums merge exactly by SUM; only the batch is tokenized."""
    return _spectrum_finish(
        maintain_monoid(
            standing_counts,
            ["source", "len_bucket"],
            ["n_docs", "n_tokens"],
            added=_doc_length_counts(new_docs),
        )
    )


def doc_length_delta_fixture(docs: DataFrame) -> DataFrame:
    """Fixture face: the shared append batch; the standing table derives
    in-call (persisted in production).  Oracle = the full-rebuild SQL."""
    standing, new_docs = split_at_cut(docs)
    return doc_length_spectrum_delta(new_docs, _doc_length_counts(standing))


def doc_length_spectrum_retract(
    deleted_docs: DataFrame, standing_counts: DataFrame
) -> DataFrame:
    """Delete maintenance of the standing length spectrum: each doc
    counts in exactly one bucket, so deletes subtract the tombstoned
    docs' own bucket rows, and buckets whose doc count reaches zero
    leave.  Tokenizes the deleted docs only."""
    return _spectrum_finish(
        maintain_monoid(
            standing_counts,
            ["source", "len_bucket"],
            ["n_docs", "n_tokens"],
            removed=_doc_length_counts(deleted_docs),
        )
    )


def doc_length_retract_fixture(docs: DataFrame) -> DataFrame:
    """Fixture face: the shared delete batch; the standing count table
    derives in-call (persisted in production).  Oracle = the
    full-rebuild SQL over the survivors."""
    return doc_length_spectrum_retract(tombstoned(docs), _doc_length_counts(docs))


DOC_LENGTH_SPECTRUM_SQL = f"""
WITH per_doc AS (
  SELECT source,
         CAST(len({SQL_TOKENS.format(t="text")}) AS BIGINT) AS n_tokens
  FROM documents
),
bucketed AS (
  SELECT source, n_tokens,
         CASE WHEN n_tokens = 0 THEN -1
              ELSE length(bin(n_tokens)) - 1 END AS len_bucket
  FROM per_doc
)
SELECT source,
       CAST(len_bucket AS INT) AS len_bucket,
       CAST(CASE WHEN len_bucket < 0 THEN 0
                 ELSE CAST(1 AS BIGINT) << len_bucket END AS BIGINT)
         AS bucket_low,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM bucketed
GROUP BY source, len_bucket
ORDER BY source, len_bucket
""".strip()


DOC_LENGTH_RETRACT_SQL = f"""
WITH {SURVIVORS_CTE},
{DOC_LENGTH_SPECTRUM_SQL.replace("FROM documents", "FROM survivors").removeprefix("WITH ")}
""".strip()


# ---------------------------------------------------------------------------
# Vocabulary pruning (df band-pass) — gensim filter_extremes semantics
# ---------------------------------------------------------------------------

VOCAB_PRUNE_LO_PCT = 10
VOCAB_PRUNE_HI_PCT = 78


def vocab_prune_rewrite(
    docs: DataFrame,
    lo_pct: int = VOCAB_PRUNE_LO_PCT,
    hi_pct: int = VOCAB_PRUNE_HI_PCT,
) -> DataFrame:
    """Document-frequency band-pass vocabulary pruning: a token survives
    iff its corpus df lies in ``[lo_pct%, hi_pct%]`` of documents — the
    ``Dictionary.filter_extremes(no_below, no_above)`` convention every
    bag-of-words / topic-model pipeline applies before training (too
    rare = noise/typos, too common = corpus-wide stopwords).

    Per-doc audit row ``(doc_id, n_tokens, n_kept, n_pruned_low,
    n_pruned_high, kept_fp)`` where ``kept_fp`` is the md5 of the
    surviving tokens joined by one space IN ORIGINAL ORDER — the
    fingerprint-of-the-rewrite convention ``pii_scan`` uses, so the
    face stays narrow while pinning the full rewritten token stream.
    Zero-token docs (and docs whose every token is pruned) publish
    ``md5('')``.  Both band predicates are pure-integer cross
    multiplications (``df·100 < lo_pct·n_docs``) — no float surface.

    Scale shape: posexplode → distinct (doc, token) → df aggregate,
    then ONE key-partitioned join of the token stream against the df
    table (vocab-sized — AQE broadcasts it at fixture scale; at corpus
    scale it stays a hash join keyed by token, never a driver
    collect), then one per-doc re-aggregate whose in-order rebuild is
    an ``array_sort`` over (pos, tok) structs — no window, no global
    sort except the final presentation ORDER BY.
    """
    base = spread_for_compute(docs.select("doc_id", "text"), "doc_id")
    tok = base.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
    )
    df_ = (
        tok.select("doc_id", "tok")
        .distinct()
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    cls = (
        tok.join(df_, "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "cls",
            F.when(
                F.col("df") * 100 < F.lit(lo_pct) * F.col("n_docs"), F.lit(-1)
            )
            .when(F.col("df") * 100 > F.lit(hi_pct) * F.col("n_docs"), F.lit(1))
            .otherwise(F.lit(0)),
        )
    )
    per_doc = cls.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum((F.col("cls") == 0).cast("long")).alias("n_kept"),
        F.sum((F.col("cls") == -1).cast("long")).alias("n_pruned_low"),
        F.sum((F.col("cls") == 1).cast("long")).alias("n_pruned_high"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("cls") == 0,
                                F.struct(
                                    F.col("pos").alias("pos"),
                                    F.col("tok").alias("tok"),
                                ),
                            )
                        )
                    ),
                    lambda x: x["tok"],
                ),
            )
        ).alias("kept_fp"),
    )
    empty_fp = F.md5(F.lit(""))
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
            F.coalesce("n_pruned_low", F.lit(0).cast("long")).alias(
                "n_pruned_low"
            ),
            F.coalesce("n_pruned_high", F.lit(0).cast("long")).alias(
                "n_pruned_high"
            ),
            F.coalesce("kept_fp", empty_fp).alias("kept_fp"),
        )
        .orderBy("doc_id")
    )


def _vocab_prune_sql(
    lo_pct: int = VOCAB_PRUNE_LO_PCT, hi_pct: int = VOCAB_PRUNE_HI_PCT
) -> str:
    toks = SQL_TOKENS.format(t="text")
    return f"""
WITH toks AS (
  SELECT doc_id, {toks} AS t FROM documents
),
flat AS (
  SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS tok
  FROM toks
),
df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM flat GROUP BY 1),
nd AS (SELECT count(*) AS n_docs FROM documents),
cls AS (
  SELECT f.doc_id, f.pos, f.tok,
         CASE WHEN df.df * 100 < {lo_pct} * nd.n_docs THEN -1
              WHEN df.df * 100 > {hi_pct} * nd.n_docs THEN 1
              ELSE 0 END AS cls
  FROM flat f JOIN df USING (tok) CROSS JOIN nd
),
per_doc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(count(*) FILTER (WHERE cls = 0) AS BIGINT) AS n_kept,
         CAST(count(*) FILTER (WHERE cls = -1) AS BIGINT) AS n_pruned_low,
         CAST(count(*) FILTER (WHERE cls = 1) AS BIGINT) AS n_pruned_high,
         md5(coalesce(
           string_agg(CASE WHEN cls = 0 THEN tok END, ' ' ORDER BY pos),
           '')) AS kept_fp
  FROM cls GROUP BY 1
)
SELECT d.doc_id,
       coalesce(p.n_tokens, 0) AS n_tokens,
       coalesce(p.n_kept, 0) AS n_kept,
       coalesce(p.n_pruned_low, 0) AS n_pruned_low,
       coalesce(p.n_pruned_high, 0) AS n_pruned_high,
       coalesce(p.kept_fp, md5('')) AS kept_fp
FROM documents d LEFT JOIN per_doc p USING (doc_id)
ORDER BY doc_id
""".strip()


VOCAB_PRUNE_SQL = _vocab_prune_sql()


# ---------------------------------------------------------------------------
# The vocabulary table as STANDING STATE: monoid delta maintenance +
# a frozen classification artifact for at-ingest pruning
# ---------------------------------------------------------------------------


def vocab_df_counts(docs: DataFrame) -> DataFrame:
    """Corpus vocabulary table ``(tok, df)`` — distinct-document counts,
    the standing state `vocab_prune_rewrite` classifies against."""
    base = spread_for_compute(docs.select("doc_id", "text"), "doc_id")
    return (
        base.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .distinct()
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )


def vocab_df_delta(new_docs: DataFrame, standing_df: DataFrame) -> DataFrame:
    """`vocab_df_counts` for an append-only batch against the persisted
    standing table: a doc counts once per token, ever, so per-token
    distinct-doc counts merge exactly by SUM and only the batch is
    tokenized."""
    return maintain_monoid(
        standing_df, ["tok"], ["df"], added=vocab_df_counts(new_docs)
    ).orderBy("tok")


def vocab_df_delta_fixture(docs: DataFrame) -> DataFrame:
    """Fixture face: the shared append batch; standing derives in-call
    (persisted in production).  Oracle = the full-rebuild SQL."""
    standing, new_docs = split_at_cut(docs)
    return vocab_df_delta(new_docs, vocab_df_counts(standing))


VOCAB_DF_DELTA_SQL = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest({SQL_TOKENS.format(t="text")}) AS tok
  FROM documents
)
SELECT tok, CAST(count(*) AS BIGINT) AS df
FROM toks
GROUP BY tok
ORDER BY tok
""".strip()


def vocab_df_retract(deleted_docs: DataFrame, standing_df: DataFrame) -> DataFrame:
    """Delete maintenance of the standing vocabulary table: deletes
    subtract the tombstoned docs' own df counts and tokens reaching
    zero leave.  Exact with no ordering precondition; oracle = the
    full-rebuild SQL over the survivors."""
    return maintain_monoid(
        standing_df, ["tok"], ["df"], removed=vocab_df_counts(deleted_docs)
    ).orderBy("tok")


def vocab_df_retract_fixture(docs: DataFrame) -> DataFrame:
    """Fixture face: the shared delete batch; standing table derives
    in-call (persisted in production)."""
    return vocab_df_retract(tombstoned(docs), vocab_df_counts(docs))


VOCAB_DF_RETRACT_SQL = f"""
WITH {SURVIVORS_CTE},
toks AS (
  SELECT DISTINCT doc_id, unnest({SQL_TOKENS.format(t="text")}) AS tok
  FROM survivors
)
SELECT tok, CAST(count(*) AS BIGINT) AS df
FROM toks
GROUP BY tok
ORDER BY tok
""".strip()


def vocab_class_table(
    docs: DataFrame,
    lo_pct: int = VOCAB_PRUNE_LO_PCT,
    hi_pct: int = VOCAB_PRUNE_HI_PCT,
) -> DataFrame:
    """``(tok, cls)`` — the FROZEN pruning decision per vocabulary
    token (-1 prune-rare, 0 keep, 1 prune-common), the artifact an
    ingest gate applies without recomputing corpus df.  Unseen tokens
    are rare by definition and classify -1 at apply time."""
    df_tbl = vocab_df_counts(docs)
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        df_tbl.crossJoin(F.broadcast(n_docs))
        .select(
            "tok",
            F.when(F.col("df") * 100 < F.lit(lo_pct) * F.col("n_docs"), F.lit(-1))
            .when(F.col("df") * 100 > F.lit(hi_pct) * F.col("n_docs"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("cls"),
        )
    )


def save_vocab_classes(vocab_classes: DataFrame, path: str) -> None:
    """Persist the frozen (tok, cls) pruning artifact as parquet — the
    compute-once half of the compute-once / apply-per-batch contract
    (the `save_eval_hashes` convention; parquet so any engine can audit
    it).

    The ``-1`` (rare) class is FILTERED OUT before the collect: the
    apply gate classifies unseen tokens ``-1`` by default, so storing
    them is redundant — and at 100 TB the rare class IS the vocabulary
    (typos, URLs: easily billions of tokens), which made this the
    engine's one unbounded-in-principle driver collect (VERDICT r11
    item 4).  What remains is the 0/1 bands — tokens with df ≥ lo_pct%
    of documents, bounded by 100/lo_pct · (docs per df unit), small by
    construction."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    rows = sorted(
        (r["tok"], int(r["cls"]))
        for r in vocab_classes.where(F.col("cls") != -1).collect()
    )
    papq.write_table(
        pa.table(
            {
                "tok": pa.array([t for t, _ in rows], type=pa.string()),
                "cls": pa.array([c for _, c in rows], type=pa.int32()),
            }
        ),
        path,
    )


def load_vocab_classes(path: str) -> dict:
    """Read a :func:`save_vocab_classes` artifact into the tok→cls dict
    :func:`vocab_prune_at_ingest` closes over."""
    import pyarrow.parquet as papq

    t = papq.read_table(path)
    return dict(zip(t["tok"].to_pylist(), t["cls"].to_pylist()))


def vocab_prune_at_ingest(docs: DataFrame, vocab: dict) -> DataFrame:
    """`vocab_prune_rewrite` as a STREAMING-SAFE pure map: the frozen
    (tok → cls) artifact rides the UDF closure, so classification,
    counts, and the in-order kept fingerprint are all per-row — no
    corpus df pass, no explode/re-aggregate, no shuffle.  Append-mode
    legal; batch ≡ the full face when the artifact derives from the
    same corpus (pinned in tests).  Unseen tokens classify -1
    (rare-by-definition).

    Scale note: the closure ships only the 0/1 bands (tokens with
    df ≥ lo_pct% of documents — `save_vocab_classes` drops the
    unbounded ``-1`` class, which the ``get(t, -1)`` default
    reconstructs), so it is bounded by the df-banded vocabulary, not
    the corpus.  Should even the mid band outgrow a broadcast, swap the
    dict for the Bloom-gated form the decontamination family uses
    (`decontaminate_bloom`), trading exact low/high attribution for a
    one-sided error the verify pass removes."""
    import hashlib
    import re as _re

    from pyspark.sql.functions import pandas_udf

    tok_re = _re.compile(TOKEN_SPLIT_RE)

    @pandas_udf(
        "struct<n_tokens:bigint,n_kept:bigint,n_pruned_low:bigint,"
        "n_pruned_high:bigint,kept_fp:string>"
    )
    def prune(texts):
        import hashlib as _hl

        import pandas as pd

        empty_fp = _hl.md5(b"").hexdigest()
        out = []
        for text in texts:
            if text is None:
                # NULL-text parity with the batch face (ADVICE r11):
                # vocab_prune_rewrite left-joins and publishes zeros +
                # md5('') for docs with no tokens; the streaming gate
                # must not crash where the batch face degrades.
                out.append(
                    {
                        "n_tokens": 0,
                        "n_kept": 0,
                        "n_pruned_low": 0,
                        "n_pruned_high": 0,
                        "kept_fp": empty_fp,
                    }
                )
                continue
            ts = [t for t in tok_re.split(text.lower()) if t]
            kept, lo, hi = [], 0, 0
            for t in ts:
                c = vocab.get(t, -1)
                if c == 0:
                    kept.append(t)
                elif c == -1:
                    lo += 1
                else:
                    hi += 1
            out.append(
                {
                    "n_tokens": len(ts),
                    "n_kept": len(kept),
                    "n_pruned_low": lo,
                    "n_pruned_high": hi,
                    "kept_fp": hashlib.md5(" ".join(kept).encode()).hexdigest(),
                }
            )
        return pd.DataFrame(out)

    return docs.select("doc_id", prune(F.col("text")).alias("p")).select(
        "doc_id",
        "p.n_tokens",
        "p.n_kept",
        "p.n_pruned_low",
        "p.n_pruned_high",
        "p.kept_fp",
    )


# ---------------------------------------------------------------------------
# Length-outlier report — exact rank-based robust statistics
# ---------------------------------------------------------------------------


def length_outlier_report(docs: DataFrame) -> DataFrame:
    """Per-source robust length statistics + cap-cut counts — the
    truncation-policy data card: what would a p99 cap cut, how much
    sits below the p01 floor, and where the quartiles lie.

    Exact rank-based percentiles, never interpolated: the value at rank
    ``ceil(p·n)`` of the sorted token-count multiset, with the rank
    computed by integer ceil-division (``(p·n + 99) div 100``) and the
    pick by 1-based array indexing — identical in both engines, unlike
    `percentile()`'s engine-specific interpolation.  The cap-cut
    columns count docs STRICTLY beyond the p10/p90 picks — tail
    fractions that stay non-zero even at small per-source n, where
    p99's rank collapses to the max (25 docs → ceil(0.99·25) = 25) and
    a p99 count would publish a dead-zero column; the Tukey 1.5·IQR
    fence has the same defect on the uniform fixture (never binds).

    Scale shape: ONE map pass for per-doc lengths and ONE
    groupBy(source) — the cap counts come from the same sorted array
    as the picks (`size(filter(lens, < p10))`), so nothing re-reads or
    re-tokenizes the corpus.  The per-source array is bounded by that
    source's doc count; at corpus scale swap `collect_list` for the
    two-pass rank-window form — the published contract (exact ranks,
    integer comparisons) is representation-independent.  Integer-only
    face.
    """
    per_doc = spread_for_compute(docs.select("doc_id", "text", "source"), "doc_id").select(
        "source", F.size(tokens("text")).cast("long").alias("len")
    )
    ranked = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.array_sort(F.collect_list("len")).alias("lens"),
    )

    def pick(p: int):
        rank = F.expr(f"CAST(({p} * n_docs + 99) DIV 100 AS INT)")
        return F.element_at("lens", rank)

    def count_lt(bound):
        return F.size(F.filter("lens", lambda v: v < bound)).cast("long")

    def count_gt(bound):
        return F.size(F.filter("lens", lambda v: v > bound)).cast("long")

    return ranked.select(
        "source",
        "n_docs",
        pick(1).alias("p01"),
        pick(50).alias("p50"),
        pick(99).alias("p99"),
        pick(25).alias("q1"),
        pick(75).alias("q3"),
        count_lt(pick(10)).alias("n_below_p10"),
        count_gt(pick(90)).alias("n_above_p90"),
    ).orderBy("source")


LENGTH_OUTLIER_SQL = f"""
WITH per_doc AS (
  SELECT source, CAST(len({SQL_TOKENS.format(t="text")}) AS BIGINT) AS len
  FROM documents
),
ranked AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         list_sort(list(len)) AS lens
  FROM per_doc GROUP BY source
)
SELECT source, n_docs,
       lens[CAST((1 * n_docs + 99) // 100 AS INT)] AS p01,
       lens[CAST((50 * n_docs + 99) // 100 AS INT)] AS p50,
       lens[CAST((99 * n_docs + 99) // 100 AS INT)] AS p99,
       lens[CAST((25 * n_docs + 99) // 100 AS INT)] AS q1,
       lens[CAST((75 * n_docs + 99) // 100 AS INT)] AS q3,
       CAST(len(list_filter(lens,
            v -> v < lens[CAST((10 * n_docs + 99) // 100 AS INT)]))
          AS BIGINT) AS n_below_p10,
       CAST(len(list_filter(lens,
            v -> v > lens[CAST((90 * n_docs + 99) // 100 AS INT)]))
          AS BIGINT) AS n_above_p90
FROM ranked
ORDER BY source
""".strip()


# ---------------------------------------------------------------------------
# Source novelty profile — first-seen n-gram attribution under ingest order
# ---------------------------------------------------------------------------


def source_novelty_profile(docs: DataFrame, n: int = 3) -> DataFrame:
    """Per-source NOVELTY under ingest order: which sources still add
    new content, and which mostly re-ship n-grams the corpus has
    already seen?  Each distinct corpus n-gram is attributed to the
    document where it FIRST appears (minimum ``doc_id`` — the ingest
    order every append-only corpus has); a source's novelty is the
    fraction of its per-doc distinct-gram rows that are first
    appearances.  The mixture-design complement of
    `ngram_diversity_by_source`: diversity measures repetition WITHIN a
    source, novelty measures what a source contributes ON TOP OF
    everything ingested before it — the signal that demotes a crawl
    slice that merely re-crawls what an earlier slice already ingested.

    Output ``(source, n_gram_rows, n_novel, novelty_millionths)`` —
    integers only (``novelty_millionths`` is the exact floor
    ``(10⁶·n_novel) div n_gram_rows``); Σ n_novel over sources = the
    corpus's distinct n-gram count (each distinct gram is novel exactly
    once — the conservation law the test pins).  No per-source doc
    count: it is constant on the uniform fixture (the degenerate-column
    rule) and `corpus_split_summary` already publishes it.

    Scale shape: one shingle fan-out (spread before the explode), a
    partial-aggregated ``groupBy(gram)`` min, one gram-keyed join back,
    and an S-row aggregate — every shuffle keys on the
    high-cardinality gram, never on (source).  The join carries the RAW
    gram string (the audit-face discipline: a hash collision here would
    merge two grams' first-seen attribution straight into the published
    counts, with no verify stage to catch it).
    """
    return _novelty_finish(novelty_standing_counts(docs, n))


def _novelty_gram_rows(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct per-doc ``(doc_id, source, g)`` gram rows — the unit the
    novelty faces attribute."""
    return spread_for_compute(
        docs.select("doc_id", "source", "text"), "doc_id"
    ).select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(word_shingles("text", n))).alias("g"),
    )


def novelty_standing_counts(docs: DataFrame, n: int = 3) -> DataFrame:
    """The persistable per-source ``(source, n_gram_rows, n_novel)``
    counts table — the monoid half of the novelty standing state."""
    grams = _novelty_gram_rows(docs, n)
    first = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    rows = grams.join(first, "g").withColumn(
        "novel", (F.col("doc_id") == F.col("first_doc")).cast("long")
    )
    return rows.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_gram_rows"),
        F.sum("novel").cast("long").alias("n_novel"),
    )


def novelty_standing_grams(docs: DataFrame, n: int = 3) -> DataFrame:
    """The persistable distinct-gram set — the membership half of the
    novelty standing state (in production this is the same appended
    side table the dedup family keeps; here one column ``g``)."""
    return _novelty_gram_rows(docs, n).select("g").distinct()


def _novelty_finish(counts: DataFrame) -> DataFrame:
    return (
        counts.groupBy("source")
        .agg(
            F.sum("n_gram_rows").cast("long").alias("n_gram_rows"),
            F.sum("n_novel").cast("long").alias("n_novel"),
        )
        .select(
            "source",
            "n_gram_rows",
            "n_novel",
            F.expr("(CAST(n_novel AS DECIMAL(38,0)) * 1000000) div n_gram_rows")
            .cast("long")
            .alias("novelty_millionths"),
        )
        .orderBy("source")
    )


def source_novelty_delta(
    new_docs: DataFrame,
    standing_grams: DataFrame,
    standing_counts: DataFrame,
    n: int = 3,
) -> DataFrame:
    """`source_novelty_profile` for an append-only delta batch against
    the persisted standing state — incremental ≡ full rebuild EXACTLY,
    because first-seen attribution is IMMUTABLE under append-only,
    id-monotone ingest: the document that introduced a gram stays its
    introducer forever, so the per-source (rows, novel) counts are
    commutative monoids and the standing summary never needs revision.
    A delta gram row is novel iff its gram is absent from the standing
    set AND it is the delta's own first appearance (min doc_id within
    the batch).

    Steady state O(|delta|): one delta-sized fan-out, one min-agg, one
    membership anti-probe against the standing gram set (gram-keyed
    hash join — at corpus scale the standing side stays partitioned,
    never collected), one SUM merge.  Oracle = the full-rebuild SQL —
    the strongest incremental ≡ rebuild statement available (the
    `doc_length_spectrum_delta` convention)."""
    grams = _novelty_gram_rows(new_docs, n)
    first = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    seen = standing_grams.select("g").withColumn("seen", F.lit(1))
    rows = (
        grams.join(first, "g")
        .join(seen, "g", "left")
        .withColumn(
            "novel",
            (
                (F.col("doc_id") == F.col("first_doc"))
                & F.col("seen").isNull()
            ).cast("long"),
        )
    )
    delta_counts = rows.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_gram_rows"),
        F.sum("novel").cast("long").alias("n_novel"),
    )
    return _novelty_finish(standing_counts.unionByName(delta_counts))


def source_novelty_delta_fixture(docs: DataFrame) -> DataFrame:
    """Fixture face: the shared append batch; standing state derives
    in-call (persisted in production).  Oracle = the full-rebuild SQL."""
    standing, new_docs = split_at_cut(docs)
    return source_novelty_delta(
        new_docs,
        novelty_standing_grams(standing),
        novelty_standing_counts(standing),
    )


def source_novelty_retract(
    deleted_ids: DataFrame,
    standing_rows: DataFrame,
    standing_counts: DataFrame,
) -> DataFrame:
    """Delete/tombstone maintenance of the novelty profile — the
    first-seen RE-ELECTION problem (VERDICT r12 item 3's hard case):
    deleting a document revokes its gram rows from ``n_gram_rows``,
    and every gram whose FIRST-SEEN document dies must re-elect its
    attribution to the earliest surviving carrier (or vanish with its
    novel credit when no survivor carries it).

    Standing state: the per-source counts (monoid half, as the append
    delta keeps) plus the distinct ``(doc_id, source, g)`` POSTING
    rows — the inverted attribution index.  Membership alone (the
    append path's gram SET) cannot re-elect; delete-awareness is
    exactly what upgrades the standing side table to postings, the
    same state a dedup fingerprint index already persists.

    Cost O(postings touching the delete), standing population never
    iterated:

    1. ``drows``  = postings of deleted docs (doc-keyed probe).
    2. ``affected`` = their distinct grams; pull ONLY those grams'
       postings (gram-keyed probe — the standing side stays
       partitioned, never collected).
    3. Per affected gram: ``of`` = min (doc, source) over all its
       postings (the standing attribution — recomputed from postings
       rather than persisted per-gram, same probe either way), ``nf``
       = min over SURVIVING postings.  ``of = nf`` → attribution
       unchanged; otherwise debit of.source and credit nf.source
       (no credit when the gram dies with its last carrier).
    4. Per-source row counts subtract ``drows``; counts merge by SUM;
       sources with zero surviving rows drop.

    Exact with NO id-monotonicity precondition (min over survivors is
    the rebuild's first-seen by definition); the oracle is the
    FULL-REBUILD novelty SQL over the surviving corpus, so the driver
    hash-checks retract ≡ rebuild-after-delete directly.
    """
    deleted = deleted_ids.select("doc_id").distinct()
    drows = standing_rows.join(deleted, "doc_id")
    affected = drows.select("g").distinct()
    pg = standing_rows.join(affected, "g").join(
        deleted.withColumn("is_del", F.lit(1)), "doc_id", "left"
    )
    agg = pg.groupBy("g").agg(
        F.min(F.struct("doc_id", "source")).alias("of"),
        F.min(
            F.when(F.col("is_del").isNull(), F.struct("doc_id", "source"))
        ).alias("nf"),
    )
    moved = agg.where(
        F.col("nf").isNull() | (F.col("nf.doc_id") != F.col("of.doc_id"))
    )
    debits = moved.select(
        F.col("of.source").alias("source"), F.lit(-1).cast("long").alias("d_novel")
    )
    credits = moved.where(F.col("nf").isNotNull()).select(
        F.col("nf.source").alias("source"), F.lit(1).cast("long").alias("d_novel")
    )
    novel_adj = (
        debits.unionByName(credits)
        .groupBy("source")
        .agg(F.sum("d_novel").alias("d_novel"))
    )
    row_adj = drows.groupBy("source").agg(
        (-F.count(F.lit(1))).cast("long").alias("d_rows")
    )
    adjusted = (
        standing_counts.join(row_adj, "source", "left")
        .join(novel_adj, "source", "left")
        .select(
            "source",
            (F.col("n_gram_rows") + F.coalesce("d_rows", F.lit(0)))
            .cast("long")
            .alias("n_gram_rows"),
            (F.col("n_novel") + F.coalesce("d_novel", F.lit(0)))
            .cast("long")
            .alias("n_novel"),
        )
        .where(F.col("n_gram_rows") > 0)
    )
    return _novelty_finish(adjusted)


def source_novelty_retract_fixture(docs: DataFrame) -> DataFrame:
    """Fixture face: the shared delete batch; the posting rows and
    counts derive in-call (persisted in production).  Oracle = the
    full-rebuild novelty SQL over the survivors."""
    return source_novelty_retract(
        tombstoned(docs.select("doc_id")),
        _novelty_gram_rows(docs),
        novelty_standing_counts(docs),
    )


SOURCE_NOVELTY_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, {SQL_TOKENS.format(t="text")} AS t FROM documents
),
idx0 AS (SELECT doc_id, source, t, generate_subscripts(t, 1) AS i FROM toks),
shingles AS (
  SELECT DISTINCT doc_id, source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
  FROM idx0 WHERE i + 2 <= len(t)
),
first AS (SELECT sh, min(doc_id) AS first_doc FROM shingles GROUP BY 1)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_gram_rows,
       CAST(sum(CASE WHEN s.doc_id = f.first_doc THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST((CAST(sum(CASE WHEN s.doc_id = f.first_doc THEN 1 ELSE 0 END)
                  AS HUGEINT) * 1000000) // count(*) AS BIGINT)
         AS novelty_millionths
FROM shingles s JOIN first f USING (sh)
GROUP BY source
ORDER BY source
""".strip()


# The full-rebuild novelty statement over the SURVIVING corpus: the
# same CTE chain with the one `documents` scan redirected through the
# tombstone filter (pytest pins the rewrite, as for the cluster
# retract oracle).
SOURCE_NOVELTY_RETRACT_SQL = f"""
WITH {SURVIVORS_CTE},
{SOURCE_NOVELTY_SQL.split("WITH ", 1)[1].replace("FROM documents", "FROM survivors")}
""".strip()
