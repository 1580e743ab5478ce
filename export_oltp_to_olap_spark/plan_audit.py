"""Physical-plan introspection: the scale review, as an API.

Every operator in this engine was shipped only after a `.explain`
review — filters pushed to the scan, dims broadcast, no cartesian
stages, hot paths inside whole-stage codegen (tests/test_plan_quality.py
pins those properties).  This module packages that review so OPERATORS
of the engine can run it too: `plan_summary(df)` reduces a physical plan
to the counters that matter at 100 TB, and `audit_plans(spark, sf_dir)`
sweeps every registered query and flags the anti-patterns.  The CLI
surface is `export_oltp_to_olap_spark explain <query>`.

Why counters, not the raw plan string: on a cluster the plan for a
600-line query is unreadable in a terminal, and the things that decide
cost at scale are a handful of node classes — shuffle Exchanges (each
one is a full re-partition of the stream), SortMergeJoin vs
BroadcastHashJoin (shuffle-both-sides vs map-side), CartesianProduct
(quadratic, almost always a dropped join key), scans without pushed
filters or with unpruned columns (read amplification), and interpreted
(non-codegen) stages.  A reviewer reads five integers, then pulls the
full plan only when one looks wrong.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import DataFrame

# Scan lines look like:  FileScan parquet [c1#12,c2#13] ... PushedFilters:
# [IsNotNull(c1)], ReadSchema: ...
_SCAN_RE = re.compile(r"FileScan parquet \[([^\]]*)\]")
_PUSHED_RE = re.compile(r"PushedFilters: \[([^\]]*)\]")
# Node line:  SortMergeJoin [k1#1L, k2#2L], [k1#9L, k2#10L], Inner
_SMJ_RE = re.compile(r"SortMergeJoin \[[^\]]*\], \[[^\]]*\], (\w+)")


def executed_plan(df: DataFrame, execute: bool = False) -> str:
    """The physical plan as a string.

    Under AQE the plan printed BEFORE execution is provisional
    (`isFinalPlan=false`, no codegen markers); ``execute=True`` runs the
    DataFrame's own plan (collect, not count — count plans a different
    query) so runtime re-optimizations (broadcast demotion, skew splits,
    coalesced partitions) appear in what you read.
    """
    if execute:
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def plan_summary(df: DataFrame, execute: bool = False) -> dict[str, Any]:
    """Reduce a physical plan to the counters that decide cost at scale.

    Keys: ``shuffle_exchanges``, ``broadcast_joins``, ``sortmerge_joins``,
    ``cartesian_products``, ``codegen_spans``, ``scans`` (one entry per
    parquet scan: column count + whether any filter was pushed), and
    ``final`` (AQE finalized — only meaningful with ``execute=True``).
    """
    plan = executed_plan(df, execute=execute)
    scans = []
    for m in _SCAN_RE.finditer(plan):
        cols = [c.split("#")[0] for c in m.group(1).split(",") if c]
        rest = plan[m.end() : m.end() + 2000]
        pushed = _PUSHED_RE.search(rest)
        scans.append(
            {
                "columns": len(cols),
                "pushed_filters": bool(pushed and pushed.group(1).strip()),
            }
        )
    smj_types = _SMJ_RE.findall(plan)
    return {
        "shuffle_exchanges": len(re.findall(r"Exchange (?:hash|range|Single)", plan)),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sortmerge_joins": len(smj_types),
        "smj_types": smj_types,
        "cartesian_products": plan.count("CartesianProduct"),
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "scans": scans,
        "final": "isFinalPlan=true" in plan or "isFinalPlan" not in plan,
    }


# Queries that are cross joins BY DEFINITION (brute-force ANN baselines
# with the small side broadcast) — the same allowlist
# tests/test_plan_quality.py::test_no_cartesian_products_anywhere pins.
CARTESIAN_ALLOWED = frozenset(
    {
        "ann_cosine_topk",
        "embedding_cosine_neardup",
        "label_knn_noise",
        # same brute exactness-baseline shape as label_knn_noise, with
        # the label-inequality predicate as the join condition:
        "hard_negative_mining",
        # S×1 broadcast of the chosen waterfilling boundary row onto the
        # S source rows (S = source catalog, not data) — a degenerate
        # cross join by construction, not a pair blow-up:
        "capped_epoch_allocation",
    }
)

# Queries whose SortMergeJoins are the AUDITED baseline: pair joins over
# candidate sets, postings-list probes, and iterative label propagation
# where both sides are corpus-scale by design — broadcast is impossible
# and SMJ is the right strategy (SCALE.md reviews each).  The flag
# exists to catch NEW both-sides-shuffled joins, not these.
SMJ_EXPECTED = frozenset(
    {
        "clicks_before_purchase",
        "corpus_curation_summary",
        "curation_audit",
        "curated_corpus_decontaminated",  # same staged curation chain
        # same chain + the rewrite tail: admitted docs join their
        # rebuilt token streams — both sides derive from the corpus,
        # large-large on doc_id, SMJ is the correct shape
        "curated_corpus_rewritten",
        "incremental_corpus_delta",
        "ivf_cosine_topk",
        "ivfpq_cosine_topk",
        "leakage_fix_report",  # pair-list joins + the same propagation chain
        "neardup_threshold_curve",  # the ngram pair verify join at min(t)
        "leakage_safe_splits",  # inherits neardup_clusters' propagation join
        "neardup_clusters",
        # the one upsert body behind all three: standing-map
        # pass-through/anti joins, edge mapping and the relabel/recount
        # joins — corpus-scale on doc_id/canonical_id, neither side
        # broadcastable:
        "neardup_clusters_delta",
        "neardup_clusters_retract",
        "neardup_clusters_upsert",
        # the ledger legs of the curated retract: keepers/losers joined
        # on text (exact re-election), the pair-table re-key joins and
        # the kept anti-join — corpus-derived frames keyed on
        # text/doc_id, neither side broadcastable at corpus scale
        # (SCALE.md reviews the shapes):
        "curated_retract",
        # the retract chain above plus the challenge/admit text joins
        # and the both-directions prefix probe — same corpus-derived
        # text/doc_id-keyed frames:
        "curated_upsert",
        # inherits neardup_clusters_retract's propagation/pass-through
        # chain plus the split re-hash over the relabeled map:
        "leakage_split_retract",
        # inherits the propagation chain, plus the per-doc quality
        # re-attach: both sides corpus-scale on doc_id/canonical_id
        "neardup_quality_keepers",
        "semantic_dedup",
        # TPC-H completion batch: large-large joins between frames both
        # DERIVED FROM the fact aggregate, where neither side is
        # broadcastable at scale and statistics are unknown at plan
        # time — SMJ is the correct shape, reviewed:
        "tpch_q2_min_cost_supplier",  # offers ⋈ per-part min (both from the lineitem agg)
        "tpch_q20_dominant_share",  # per-supp share ⋈ per-part total semi-chain
        "tpch_q21_sole_blame",  # late-lines anti ⋈ late-others (both from lineitem)
        "winnowing_fingerprints",  # clone signal = fingerprint set ⋈ itself on fp_hash
        "fingerprint_delta",  # delta fingerprints ⋈ the standing side table on fp_hash
        "semdedup_threshold_curve",  # inherits semantic_dedup's within-cluster pair join
        # same within-cluster pair join over the affected cells, plus
        # the standing-map pass-through/anti joins — every side
        # corpus-scale on vec_id/cluster_id:
        "semdedup_retract",
        # top-k neighbor list ⋈ the labels frame (both derive from the
        # embeddings table; neither side is broadcastable at corpus
        # scale) — the vote re-attach of the brute-force baseline:
        "label_knn_noise",
        # the same re-attach joins on the IVF scale paths: shortlist ⋈
        # vectors (rescore) and top-k ⋈ labels (vote) — every side
        # derives from the embeddings table, keyed on vec_id:
        "label_knn_ivf",
        "hard_negative_ivf",
        # truth-pair set ⋈ LSH candidate-pair set (left outer for the
        # recall join, left anti for the wasted-verification row) —
        # both sides are corpus-derived pair sets keyed on
        # (doc_a, doc_b), neither broadcastable at scale:
        "lsh_recall_audit",
        "simhash_recall_audit",  # same shared recall-audit tail
        "simhash_radius_sweep",  # same shared recall-audit tail, x3 radii
        "winnow_recall_audit",  # same shared recall-audit tail
        "cosine_lsh_recall_audit",  # same shared recall-audit tail
        "cosine_lsh_multiprobe_recall_audit",  # same shared recall-audit tail
    }
)


# Queries whose BUILDER runs Spark jobs at plan-construction time —
# trainers and quantizers that collect a bounded sample or fit a model
# before the returned DataFrame exists (bpe: word counts + merge loop;
# quality classifier: L-BFGS fit; lm: vocab-cap TakeOrdered; pq/ivfpq:
# codebook k-means on a ≤64k sample; rp: one probe row for dim).  A
# "plan sweep" over these EXECUTES those jobs (ADVICE r4) — pass
# ``plan_only=True`` (CLI: ``explain --all --plan-only``) to skip them.
BUILD_EXECUTES = frozenset(
    {
        "quality_classifier_scores",
        "lm_fluency_scores",
        "lm_guided_mixture",
        "pq_cosine_topk",
        "ivfpq_cosine_topk",
        "rp_cosine_topk",
    }
)


# Queries whose builders MATERIALIZE intermediate stages at
# DataFrame-construction time — ``stage()`` cuts (eager
# ``localCheckpoint`` in the default ``local`` staging mode) or
# iterative closures whose convergence ``count()`` runs per round.
# Not trainers, but a "plan-only" sweep over them still scans (and at
# corpus scale, shingles) real data (ADVICE r5), so ``plan_only``
# skips these too.
STAGE_EXECUTES = frozenset(
    {
        "corpus_curation_summary",
        "curation_audit",
        "curated_corpus_decontaminated",  # also collects the eval-gram set
        "incremental_corpus_delta",
        "neardup_clusters",
        "leakage_safe_splits",
        "leakage_fix_report",
        "duplicated_spans",
        # The recall-audit faces execute eagerly at build time (the
        # ≤12-row frame is localCheckpointed so the shared shingle-set
        # cache can be unpersisted before returning — VERDICT r11
        # item 5); a plan sweep over them runs the full audit.
        "lsh_recall_audit",
        "simhash_recall_audit",
        "simhash_radius_sweep",
        "winnow_recall_audit",
        "decontam_threshold_curve",  # same eager-release pattern
        "fuzzy_decontam_pairs",  # same eager-release pattern
        # each builds standing labels in-call, then runs the upsert
        # body's quotient propagation with per-round stage() cuts:
        "neardup_clusters_delta",
        "neardup_clusters_retract",
        "neardup_clusters_upsert",
        # in-call standing ledger (stage() cuts) + the retract-chain
        # propagation respectively:
        "curated_retract",
        "curated_upsert",  # retract state + staged stage0/admitted cuts
        "leakage_split_retract",
        # the fact slice collects the changed order's owner and product ids:
        "incremental_orden_hecho",
    }
)


def audit_plans(
    spark, sf_dir: str, names: list[str] | None = None, plan_only: bool = False
) -> list[dict[str, Any]]:
    """Sweep registered queries and return one summary row per query,
    with ``flags`` listing the anti-patterns found (empty = clean).

    Flags: ``cartesian`` (quadratic stage outside the allowlist) and
    ``sortmerge`` (a non-full-outer join shuffled both sides — at
    fixture scale every dimension side should broadcast; full outers
    are exempt because they cannot broadcast by definition, and on a
    real cluster SMJ can be the right call, which is why this is a
    report, not an assertion).  Sweeps read the PROVISIONAL plan (AQE
    may still demote a flagged SMJ to broadcast at runtime); re-check a
    flagged query with ``plan_summary(df, execute=True)``.

    COST: building a query's DataFrame is normally driver-side only,
    but ``BUILD_EXECUTES`` queries run bounded training jobs during
    construction and ``STAGE_EXECUTES`` queries materialize staged
    intermediates — the default sweep pays both (sf0.001 keeps it
    cheap); ``plan_only=True`` skips both sets with explanatory rows.
    """
    from export_oltp_to_olap_spark import registry

    registry._ensure_loaded()
    rows = []
    for name in names or sorted(registry.REGISTRY):
        if plan_only and name in BUILD_EXECUTES:
            rows.append(
                {"query": name, "flags": [], "skipped": "builder-executes-jobs"}
            )
            continue
        if plan_only and name in STAGE_EXECUTES:
            rows.append(
                {"query": name, "flags": [], "skipped": "builder-stages-data"}
            )
            continue
        summary = plan_summary(registry.REGISTRY[name].fn(spark, sf_dir))
        flags = []
        if summary["cartesian_products"] and name not in CARTESIAN_ALLOWED:
            flags.append("cartesian")
        if name not in SMJ_EXPECTED and any(
            t != "FullOuter" for t in summary["smj_types"]
        ):
            flags.append("sortmerge")
        rows.append({"query": name, **summary, "flags": flags})
    return rows
