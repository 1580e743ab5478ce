"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints exactly ONE compact JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "n_runs": N}

``value`` is the total of per-query MEDIAN wall-clock seconds (each run
fully materializes the plan via count).  Single-run timings on this box
swing 2-10x run-to-run (VERDICT r2 adjudicated two apparent regressions
as pure variance), so each query runs ``BENCH_RUNS`` times (default 3)
and ``queries`` reports the median.  The raw per-run samples are written
to ``bench_runs.json`` next to this file, NOT printed: round 3's summary
line embedded them and overflowed the driver's tail capture, leaving
BENCH_r03.json unparsed (VERDICT r3 item 3).

Env knobs: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default 32), BENCH_QUERIES (comma-list to subset),
BENCH_RUNS (default 3).

Crowding tax (measured, round 7 — bench_isolated_curation_r7.json):
heavy multi-stage chains (the curation family) ran 2-26% slower inside
the full 54-query suite JVM than in a fresh JVM on the same container.
The follow-up root-cause (SCALE.md round 7) found most of the "tax"
was the chains themselves: eager localCheckpoints at fan-out sites
leaked blocks per invocation and forced stats-free row-oriented
rereads; `stage_fanout` (cache-based staging) removed 2-3x from the
family.  Residual in-suite-vs-isolated spread is container co-tenancy
— still compare in-suite medians round-over-round (the driver's
contract) and use `BENCH_QUERIES=<family> BENCH_RUNS=5 python
bench.py` as the isolation experiment (subset runs no longer overwrite
the round summary).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: the queries whose plans exercise the scale-critical paths
# (big-table agg, fact-chain joins + window dedup, top-k window, dedup and
# similarity operators as they land).  Keep this list in sync with
# SCALE.md's plan reviews.
#
# `embedding_cosine_neardup` (O(N²) all-pairs exact) is deliberately NOT
# here: it is the recall/exactness baseline the LSH path is measured
# against, not a scale path — `lsh_cosine_neardup` is the headline
# near-dup (VERDICT r1/r2).  `ivf_cosine_topk[kmeans]` (the
# learned-centroid bench-only variant) was DROPPED from the headline in
# round 10 (VERDICT r9 item 4): its iterative driver-side k-means fit
# swings 1.8-6.1 s in-suite around a 2.45 s isolated median
# (bench_isolated_r9.json), polluting every round-over-round comparison
# while the REGISTERED face ships deterministic first-N centroids.  It
# stays runnable by name (`BENCH_QUERIES='ivf_cosine_topk[kmeans]'
# python bench.py`) and its recall/cost trade stays pinned in
# RECALL.json.
DEFAULT_HEADLINE = [
    "pricing_summary",
    "flagship_revenue",
    "top_customers_per_region",
    "star_hecho_ventas",
    "star_dim_cliente",
    "dim_cliente_scd2",
    "minhash_near_dup",
    "minhash_delta_neardup",
    "ngram_jaccard_neardup",
    "simhash_near_dup",
    "exact_dedup_documents",
    "normalized_dedup_documents",
    "decontaminate_documents",
    "duplicated_spans",
    "neardup_clusters",
    "neardup_quality_keepers",
    "tfidf_top_terms",
    "ngram_diversity_by_source",
    "rp_cosine_topk",
    "lm_fluency_scores",
    "quality_classifier_scores",
    "quality_scores_saved",
    "bpe_tokens_saved",
    "ann_cosine_topk",
    "ivf_cosine_topk",
    "pq_cosine_topk",
    "lsh_cosine_neardup",
    # round 13: the raised-recall multi-probe operating point is a
    # production face, priced alongside the single-probe headline:
    "lsh_multiprobe_cosine_neardup",
    "semantic_dedup",
    "semantic_dedup[kmeans]",
    "semantic_dedup[salted]",
    "corpus_curation_summary",
    "curation_audit",
    "curated_corpus_decontaminated",
    "incremental_corpus_delta",
    "incremental_corpus_delta[standing]",
    "source_overlap_matrix",
    "text_quality",
    "gopher_quality_flags",
    "c4_quality_flags",
    "boilerplate_ngrams",
    "boilerplate_ngrams_delta",
    "lang_mismatch_report",
    "curriculum_manifest",
    "corpus_digest",
    "eval_contamination_report",
    "pii_scan",
    "token_count_bpe",
    "media_feature_extract",
    "chunk_documents",
    "events_gapfill_locf",
    "events_sessionize",
    "events_tumbling_hourly",
    "purchases_asof_clicks",
    "clicks_before_purchase",
    "orders_price_percentiles",
    "stats_moments_lineitem",
    # The complete 22-query TPC-H adaptation (round 8 closes the set:
    # the suite is the standard warehouse workload, so its trend line
    # should cover every query, not just the distinctive plan shapes).
    "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping_priority",
    "tpch_q4_order_priority",
    "tpch_q5_local_supplier",
    "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q9_profit_trend",
    "tpch_q10_returned_items",
    "tpch_q11_important_flow",
    "tpch_q12_shipping_delay",
    "tpch_q13_custdist",
    "tpch_q14_promo_revenue",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_count",
    "tpch_q17_small_qty",
    "tpch_q18_large_volume",
    "tpch_q19_discounted_revenue",
    "tpch_q20_dominant_share",
    "tpch_q21_sole_blame",
    "tpch_q22_sales_opportunity",
    # Round-7 corpus-operator additions (all oracle-green):
    "winnowing_fingerprints",
    "decontaminate_bloom",
    "decontaminate_bloom[standing]",
    "semdedup_threshold_curve",
    # Round-8 additions: the rewrite faces move the whole token stream
    # (the heaviest text-op shape), epoch/diversity planning round out
    # the sampling family:
    "span_strip_rewrite",
    "decontam_strip_rewrite",
    "epoch_allocation",
    "cluster_balanced_sample",
    "media_exact_dedup",
    "media_neardup",
    "media_neardup_delta",
    "media_neardup_delta[standing]",
    # Round-9 additions: the heaviest composed r8 face finally benched
    # (VERDICT r8 item 5), the media cell-cap truncation ledger, and
    # the committed-artifact BPE apply face (replacing the deregistered
    # per-invocation trainer in this list):
    "curated_corpus_rewritten",
    "media_neardup_capped",
    "snapshot_diff_customers",
    "skew_safe_join_revenue",
    "training_shard_manifest",
    "events_hopping_halfhour",
    # Round-11 additions: the schema-evolution drift audit (mergeSchema
    # read + one agg pass over the two-table lake) and the corpus-stats
    # pair (token explode + partial aggs; broadcast pair join):
    "schema_drift_audit",
    "token_zipf_spectrum",
    "source_vocab_overlap",
    # and the lexical-recall x semantic-confirm hybrid dedup audit:
    "hybrid_neardup_confirm",
    "doc_length_spectrum",
    "doc_length_spectrum_delta",
    "capped_epoch_allocation",
    # `hard_negative_mining` is NOT here for the same reason as
    # `embedding_cosine_neardup` and `label_knn_noise`: a declared
    # O(N²) exactness baseline for the labeled slice, not a scale path
    # (measured 8.1 s at sf0.1, and its 4M-pair shuffle evicts the
    # cached shingle sets other faces reuse — run it by name).  Its
    # IVF-shortlisted scale path IS headline, as is the label-noise
    # audit's (every vector audited through the per-cell GEMM scan):
    "hard_negative_ivf",
    "label_knn_ivf",
    "lsh_recall_audit",
    # `simhash_recall_audit` and `winnow_recall_audit` are registered
    # (oracle-green) but not headline: each runs its family's full
    # candidate pipeline PLUS the shared exact-truth verify (the price
    # of ground truth per sibling).  lsh_recall_audit already carries
    # the truth stage in the headline; run the siblings by name.  The
    # measured family cards live in RECALL.json's jaccard_families.
    "vocab_prune_rewrite",
    "vocab_df_delta",
    "length_outlier_report",
    # round 12: incremental CLUSTER maintenance.  Headline = the
    # steady-state [standing] variant (standing map persisted; timed
    # plan is the delta probe + quotient propagation only).  The
    # registered bootstrap face (`neardup_clusters_delta`, which
    # re-derives the standing map in-call to match its full-rebuild
    # driver oracle) stays runnable by name but off the headline —
    # measured 8.3 s at sf0.1, ~2.5x the production claim, all of it
    # the deliberate in-call bootstrap:
    "neardup_clusters_delta[standing]",
    # round 13: delete/tombstone maintenance, same headline convention
    # as the append delta — the steady-state [standing] variant is the
    # production claim; the in-call-bootstrap base face stays runnable
    # by name but off the headline:
    "neardup_clusters_retract[standing]",
    "neardup_clusters_upsert[standing]",
    # round 12: fuzzy train↔eval leakage (MinHash candidates + exact
    # verify) and the first-seen novelty profile + its delta — three
    # gram/signature-keyed plans in the family's usual ~1-2 s class:
    "fuzzy_decontam_pairs",
    # round 13: the semantic (paraphrase-class) decontam twin — probe
    # fan-out on the eval side only, exact rescore; 2.5 s solo:
    "semantic_decontam_pairs",
    "source_novelty_profile",
    "source_novelty_delta",
    # round 13: the delete-aware ladder — both fixture faces build
    # their standing state in-call like the novelty/vocab deltas, so
    # they bench the same way (no [standing] variant needed; the
    # in-call build IS the delta-family convention here):
    "source_novelty_retract",
    "vocab_df_retract",
    "semdedup_retract",
    # round 14: the ladder applied one level up — the delete-aware
    # curated corpus (keeper re-admission from the persisted ledger),
    # its full CDC upsert composition (challenge/demotion + the
    # both-directions probe), and the cluster-keyed split map under
    # canonical deletion; all build their standing state in-call like
    # the r13 retract faces:
    "curated_retract",
    "curated_upsert",
    # the steady-state twin: persisted ledger + shingle sets untimed,
    # timed plan = retract state + challenge/admit + the probe only —
    # the cost `curated_upsert_ledger`'s maintenance loop actually
    # pays per batch:
    "curated_upsert[standing]",
    "leakage_split_retract",
    # round 15: its steady-state twin (persisted cluster map +
    # signature tables shared with the clusters-retract [standing]
    # face; timed plan = affected-scope joins + re-propagation + the
    # split hash) — the base face above stays benched and
    # oracle-matched:
    "leakage_split_retract[standing]",
    # round 14: the cheap monoid/anti-join retract legs (VERDICT r13
    # item 6) — SUM-subtract or doc_id anti-join, standing state
    # in-call per the family convention:
    "doc_length_spectrum_retract",
    "boilerplate_ngrams_retract",
    "pack_source_totals_retract",
    "winnow_fingerprints_retract",
    # five decontam passes at n = 3,4,5,6,8 — the calibration sweep is
    # inherently |ns| x the single-point face (2.98 s at sf0.1):
    "decontam_threshold_curve",
    "pack_bins_delta",
]


def _variant_queries():
    """Bench-only variants of registered queries (no oracle of their own —
    the base registration keeps the oracle-checkable mode)."""
    from export_oltp_to_olap_spark.operators import similarity
    from export_oltp_to_olap_spark.sources.parquet import load_tables

    def ivf_kmeans(spark, sf_dir):
        emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
        return similarity.ivf_cosine_topk(emb, centroid_mode="kmeans")

    def semdedup_kmeans(spark, sf_dir):
        from export_oltp_to_olap_spark.operators import semdedup

        emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
        return semdedup.semantic_dedup(emb, centroid_mode="kmeans")

    def semdedup_salted(spark, sf_dir):
        # Hot-cluster mitigation path: cap 64 members per pair-join cell
        # (sf0.1: ~125 vectors/cluster → n_salt=2, so salting really runs).
        from export_oltp_to_olap_spark.operators import semdedup

        emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
        return semdedup.semantic_dedup(emb, max_members_per_pair_task=64)

    _standing_cache: dict[str, tuple] = {}

    def incremental_delta_standing(spark, sf_dir):
        # Steady-state daily-ingest cost: the standing curated table and
        # its shingle-set table are PERSISTED artifacts (built once,
        # untimed after the first run — exactly what production
        # maintains by appending admitted batches), so the timed plan is
        # the delta batch only.  The base `incremental_corpus_delta`
        # entry keeps the bootstrap face that matches its driver oracle.
        from pyspark.sql import functions as F

        from export_oltp_to_olap_spark.operators.diff import DELTA_CUT_FRACTION
        from export_oltp_to_olap_spark.plans.curation import (
            curated_delta,
            standing_state,
        )

        docs = load_tables(spark, sf_dir, ("documents",))["documents"].select(
            "doc_id", "text"
        )
        if sf_dir not in _standing_cache:
            max_id = docs.agg(F.max("doc_id")).first()[0]
            cut = int(DELTA_CUT_FRACTION * max_id)
            old = docs.where(F.col("doc_id") <= cut)
            _standing_cache[sf_dir] = (cut, standing_state(old, mode="table"))
        cut, (standing_curated, standing_sets) = _standing_cache[sf_dir]
        delta = docs.where(F.col("doc_id") > cut)
        return (
            curated_delta(
                docs.where(F.col("doc_id") <= cut),
                delta,
                standing_curated=standing_curated,
                standing_sets=standing_sets,
            )
            .select("doc_id", "quality", "split")
            .orderBy("doc_id")
        )

    _media_standing_cache: dict[str, object] = {}

    def media_delta_standing(spark, sf_dir):
        # Steady-state media ingest: the standing histogram table is a
        # PERSISTED artifact (built once, untimed after the first run —
        # what production maintains per batch), so the timed plan
        # histograms only the delta and probes the standing cells.  The
        # base `media_neardup_delta` entry keeps the self-contained
        # bootstrap face that matches its driver oracle.
        from pyspark.sql import functions as F

        from export_oltp_to_olap_spark.multimodal import media
        from export_oltp_to_olap_spark.operators.diff import delta_cut
        from export_oltp_to_olap_spark.operators.staging import stage

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        if sf_dir not in _media_standing_cache:
            cut = delta_cut(docs).first()["cut"]
            old = docs.where(F.col("doc_id") <= cut)
            _media_standing_cache[sf_dir] = stage(
                media.media_byte_histograms(media.synthesize_media(old)),
                mode="table",
            )
        return media.media_neardup_delta(
            docs, standing_hists=_media_standing_cache[sf_dir]
        )

    _bloom_cache: dict[str, tuple] = {}

    def bloom_standing(spark, sf_dir):
        # Steady-state decontamination: the eval bitmap is a PERSISTED
        # artifact (`cli eval-hashes --bloom`), built once and reused
        # per batch — the timed plan is the corpus probe + exact verify
        # only.  The base entry keeps the self-contained build+probe
        # face that matches its driver oracle.
        from export_oltp_to_olap_spark.operators import decontam

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        train, eval_docs = decontam.train_eval_split(docs)
        if sf_dir not in _bloom_cache:
            _bloom_cache[sf_dir] = (
                decontam.eval_gram_bloom(eval_docs),
                decontam.BLOOM_M_BITS,
                decontam.BLOOM_K,
            )
        return decontam.contamination_hits_bloom(
            train, eval_docs, bloom=_bloom_cache[sf_dir]
        )

    _clusters_standing_cache: dict[str, tuple] = {}

    def clusters_delta_standing(spark, sf_dir):
        # Steady-state dedup maintenance: the standing cluster map AND
        # the standing shingle-set/band-index tables are PERSISTED
        # artifacts (built once, untimed after the first run — what
        # production appends between batches; VERDICT r13 item 5), so
        # the timed plan is the delta's own shingling + the persisted-
        # index probe + quotient-graph propagation only.  The base
        # `neardup_clusters_delta` entry keeps the self-contained
        # bootstrap face that matches its driver oracle.
        from pyspark.sql import functions as F

        from export_oltp_to_olap_spark.operators import neardup
        from export_oltp_to_olap_spark.operators.diff import delta_cut
        from export_oltp_to_olap_spark.operators.staging import stage

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        if sf_dir not in _clusters_standing_cache:
            cut = delta_cut(docs).first()["cut"]
            old = docs.where(F.col("doc_id") <= cut)
            sets, bands = neardup.neardup_standing_index(old)
            _clusters_standing_cache[sf_dir] = (
                cut,
                stage(neardup.minhash_neardup_clusters(old), mode="table"),
                stage(sets, mode="table"),
                stage(bands, mode="table"),
            )
        cut, standing_labels, sets, bands = _clusters_standing_cache[sf_dir]
        return neardup.neardup_clusters_delta(
            docs.where(F.col("doc_id") <= cut),
            docs.where(F.col("doc_id") > cut),
            standing_labels,
            standing_sets=sets,
            standing_bands=bands,
        )

    _clusters_retract_cache: dict[str, tuple] = {}

    def _retract_standing_state(spark, sf_dir):
        # Shared untimed setup for the retract/upsert [standing]
        # variants: standing cluster map + the persisted shingle-set
        # and band-index tables (`neardup_standing_index`).
        from export_oltp_to_olap_spark.operators import neardup
        from export_oltp_to_olap_spark.operators.staging import stage

        if sf_dir not in _clusters_retract_cache:
            docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
            sets, bands = neardup.neardup_standing_index(docs)
            _clusters_retract_cache[sf_dir] = (
                stage(neardup.minhash_neardup_clusters(docs), mode="table"),
                stage(sets, mode="table"),
                stage(bands, mode="table"),
            )
        return _clusters_retract_cache[sf_dir]

    def clusters_retract_standing(spark, sf_dir):
        # Steady-state DELETE maintenance: the standing cluster map and
        # signature tables are the persisted artifacts (untimed after
        # the first run); the timed plan is the affected-cluster
        # anti/pass-through joins + the restricted re-pair (pure joins
        # over persisted rows — nothing re-shingles) + re-propagation.
        # The base `neardup_clusters_retract` entry keeps the
        # self-contained bootstrap face that matches its full-rebuild
        # driver oracle.
        from export_oltp_to_olap_spark.operators import neardup
        from export_oltp_to_olap_spark.operators.diff import tombstoned

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        labels, sets, bands = _retract_standing_state(spark, sf_dir)
        deleted = tombstoned(docs.select("doc_id"))
        return neardup.neardup_clusters_retract(
            docs, deleted, labels, standing_sets=sets, standing_bands=bands
        )

    def leakage_split_retract_standing(spark, sf_dir):
        # Steady-state cluster-keyed split maintenance under deletes:
        # the standing cluster map + shingle-set/band-index tables are
        # the persisted artifacts (shared with the clusters-retract
        # [standing] variant — identical state, untimed after the first
        # run); the timed plan is the affected-scope joins +
        # re-propagation + the map-side split hash.  The base
        # `leakage_split_retract` entry keeps the self-contained
        # bootstrap face that matches its full-rebuild driver oracle.
        from export_oltp_to_olap_spark.operators.diff import tombstoned
        from export_oltp_to_olap_spark.plans import leakage

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        labels, sets, bands = _retract_standing_state(spark, sf_dir)
        deleted = tombstoned(docs.select("doc_id"))
        return leakage.leakage_safe_split_retract(
            docs,
            deleted_ids=deleted,
            standing_labels=labels,
            standing_sets=sets,
            standing_bands=bands,
        )

    def clusters_upsert_standing(spark, sf_dir):
        # Steady-state CDC maintenance (deletes + changed docs in one
        # batch): standing map + signature tables persisted as above;
        # the timed plan shingles ONLY the changed docs' new text —
        # the retract leg re-pairs from persisted rows and the delta
        # leg probes the persisted band index (VERDICT r13 item 5: the
        # declared production plan is now the measured plan).
        from pyspark.sql import functions as F

        from export_oltp_to_olap_spark.operators import neardup

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        labels, sets, bands = _retract_standing_state(spark, sf_dir)
        deleted = docs.select("doc_id").where(
            F.col("doc_id") % neardup.UPSERT_DEL_MOD == 0
        )
        changed = docs.where(
            (F.col("doc_id") % neardup.UPSERT_CHG_MOD == 0)
            & (F.col("doc_id") % neardup.UPSERT_DEL_MOD != 0)
        ).withColumn("text", F.concat(F.col("text"), F.lit(neardup.UPSERT_SUFFIX)))
        return neardup.neardup_clusters_upsert(
            docs,
            labels,
            changed,
            deleted,
            standing_sets=sets,
            standing_bands=bands,
        )

    _curated_ledger_cache: dict[str, tuple] = {}

    def curated_upsert_standing(spark, sf_dir):
        # Steady-state CDC maintenance of the CURATED corpus: the
        # keeper/loser/pair ledger and the keepers' shingle-set table
        # are the persisted artifacts (untimed after the first run —
        # exactly what `curated_upsert_ledger` maintains batch-over-
        # batch); the timed plan is the retract-state joins, the
        # challenge/admit text join, and the both-directions probe,
        # shingling ONLY the admitted batch texts.  The base
        # `curated_upsert` entry keeps the self-contained bootstrap
        # face that matches its full-rebuild driver oracle.
        # (r15 note: threading a persisted _prefix_index table through
        # `standing_prefix` — VERDICT r14 item 3 — was implemented,
        # equivalence-pinned and MEASURED SLOWER here: 7.3 s without vs
        # 8.5 s with at sf0.1/local[32]; the capability stays on
        # curated_upsert for corpus-scale callers, this face keeps the
        # cheaper in-call prefix derivation.)
        from pyspark.sql import functions as F

        from export_oltp_to_olap_spark.operators import neardup
        from export_oltp_to_olap_spark.plans import curation

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        if sf_dir not in _curated_ledger_cache:
            keepers, losers, pairs, sets = curation.curation_standing_ledger(
                docs, mode="table", return_sets=True
            )
            _curated_ledger_cache[sf_dir] = (keepers, losers, pairs, sets)
        keepers, losers, pairs, sets = _curated_ledger_cache[sf_dir]
        deleted = docs.select("doc_id").where(
            F.col("doc_id") % neardup.UPSERT_DEL_MOD == 0
        )
        nbr = docs.select(
            (F.col("doc_id") - 1).alias("doc_id"),
            F.col("text").alias("nbr_text"),
        )
        is_twin = F.col("doc_id") % curation.UPSERT_COPY_MOD == 1
        is_near = F.col("doc_id") % curation.UPSERT_COPY_MOD == 15
        is_chg = F.col("doc_id") % neardup.UPSERT_CHG_MOD == 0
        changed = (
            docs.where(F.col("doc_id") % neardup.UPSERT_DEL_MOD != 0)
            .where(is_twin | is_near | is_chg)
            .join(nbr, "doc_id", "left")
            .select(
                "doc_id",
                F.when(is_twin, F.coalesce("nbr_text", F.col("text")))
                .when(
                    is_near,
                    F.concat(
                        F.coalesce("nbr_text", F.col("text")),
                        F.lit(neardup.UPSERT_SUFFIX),
                    ),
                )
                .otherwise(
                    F.concat(F.col("text"), F.lit(neardup.UPSERT_SUFFIX))
                )
                .alias("text"),
            )
        )
        return curation.curated_upsert(
            deleted, changed, keepers, losers, pairs, standing_sets=sets
        )

    return {
        "ivf_cosine_topk[kmeans]": ivf_kmeans,
        "semantic_dedup[kmeans]": semdedup_kmeans,
        "semantic_dedup[salted]": semdedup_salted,
        "incremental_corpus_delta[standing]": incremental_delta_standing,
        "media_neardup_delta[standing]": media_delta_standing,
        "decontaminate_bloom[standing]": bloom_standing,
        "neardup_clusters_delta[standing]": clusters_delta_standing,
        "neardup_clusters_retract[standing]": clusters_retract_standing,
        "neardup_clusters_upsert[standing]": clusters_upsert_standing,
        "leakage_split_retract[standing]": leakage_split_retract_standing,
        "curated_upsert[standing]": curated_upsert_standing,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    n_runs = max(1, int(os.environ.get("BENCH_RUNS", "3")))

    from export_oltp_to_olap_spark.session import get_spark
    from export_oltp_to_olap_spark import registry

    spark = get_spark(app_name="bench", master=f"local[{cpus}]")

    qs = dict(registry.queries())
    qs.update(_variant_queries())
    wanted = os.environ.get("BENCH_QUERIES")
    names = (
        [n.strip() for n in wanted.split(",") if n.strip()]
        if wanted
        else [n for n in DEFAULT_HEADLINE if n in qs]
    )

    # Warm the JVM + parquet footers with one tiny action so per-query
    # timings measure the plan, not session startup.
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    samples: dict[str, list[float]] = {name: [] for name in names}
    # Interleave rounds (q1..qN, q1..qN, ...) rather than back-to-back
    # repeats so a transient system-wide stall hits each query at most
    # once per round instead of poisoning all runs of one query.
    for _ in range(n_runs):
        for name in names:
            fn = qs[name]
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = df.count()  # materialize the full plan
            dt = time.perf_counter() - t0
            samples[name].append(round(dt, 3))
            print(f"# {name}: {dt:.3f}s ({n} rows)", file=sys.stderr)

    timings = {name: round(statistics.median(s), 3) for name, s in samples.items()}
    total = sum(timings.values())

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    # The stdout line carries ONLY the driver contract fields.  Per-query
    # minima were dropped from stdout in round 15 (VERDICT r14 item 2 —
    # a measurement-reporting fix, not a methodology change: the
    # ever-growing line was one truncation away from the r13 parse
    # failure, and the mins live in the committed
    # bench_summary_r{N}.json's per-query spreads, which superseded
    # VERDICT r8 item 1's rationale for printing them).
    summary = {
        "metric": "headline_queries_total_wall_clock",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "n_runs": n_runs,
    }
    # Full per-run samples go to a side file for variance inspection; the
    # stdout line stays small enough for the driver's tail capture.
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "bench_runs.json"), "w", encoding="utf-8") as fh:
        json.dump({"sf": sf_val, "n_runs": n_runs, "runs": samples}, fh, indent=1)
    # Compact medians + per-query median/min/max spreads land in a summary
    # file so round-over-round comparison is one committed file read
    # (VERDICT r4 item 8 / r5 item 7): "regression or variance?" is
    # answerable from this one file — a new median inside last round's
    # [min, max] spread is variance, not regression.
    # The ROUND RECORD path (bench_summary_r{N}.json) is written ONLY
    # when BENCH_ROUND_RECORD=1 (VERDICT r14 item 3: any later full run
    # — including the driver's own 8-core scaling run — silently
    # clobbered the builder's committed quiet-window artifact).  All
    # other full runs write bench_summary_last.json, an uncommitted
    # scratch record; BENCH_QUERIES subset runs write nothing.
    if not wanted:
        summary_file = dict(
            summary,
            query_mins={name: min(s) for name, s in samples.items()},
            spreads={
                name: {
                    "median": timings[name],
                    "min": min(s),
                    "max": max(s),
                }
                for name, s in samples.items()
            },
        )
        record = os.environ.get("BENCH_ROUND_RECORD") == "1"
        out_name = (
            f"bench_summary_r{_current_round(here)}.json"
            if record
            else "bench_summary_last.json"
        )
        with open(os.path.join(here, out_name), "w", encoding="utf-8") as fh:
            json.dump(summary_file, fh, indent=1)
    # The contract line is the LAST thing this process prints on stdout
    # (the driver tails stdout for one JSON line; anything after it —
    # or a line grown past the capture window — loses the round's
    # comparison, as r13's did).
    sys.stdout.flush()
    print(json.dumps(summary, separators=(",", ":")), flush=True)


def _current_round(repo_dir: str) -> int:
    """Best-effort round number from the driver's PROGRESS.jsonl (its
    tail rows carry {"round": N}); 0 when absent/unparsable."""
    path = os.path.join(repo_dir, "PROGRESS.jsonl")
    try:
        with open(path, encoding="utf-8") as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.strip()]
        return int(json.loads(lines[-1]).get("round", 0))
    except (OSError, ValueError, IndexError, KeyError):
        return 0


if __name__ == "__main__":
    main()
