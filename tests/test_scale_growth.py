"""Empirical candidate-volume growth across fixture scales (VERDICT r3
item 4): measure each dedup/ANN operator's candidate-pair count at
sf0.01 vs sf0.1 and pin its scaling CLASS.

What "subquadratic" honestly means here, per operator (measured first,
asserted second — numbers in comments are the 2026-08 fixture values):

* The fixture corpus's TRUE near-dup structure is itself dense: dup
  template families grow with the corpus, so for low-threshold operators
  the answer (and therefore any exact candidate set containing it) grows
  ~quadratically.  For those operators the scale claim is
  output-boundedness (candidates within a constant factor of the answer)
  or non-degradation (candidate fraction of the N²/2 pair space does not
  increase with N) — not a sublinear exponent the data itself forbids.
* Operators whose answers are sparse (MinHash at jaccard ≥ 0.8) or whose
  geometry adapts to N (SemDeDup with k ≈ √N) must show a genuinely
  subquadratic exponent: candidates(kN) < k^e · candidates(N), e ≪ 2.
* The df-cap mode is the asymptotic lever for hot-shingle corpora — the
  capped index must turn the quadratic uncapped growth into near-flat.

Docs scale 500 → 5000 (10×); embeddings 500 → 2000 (4×).
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from export_oltp_to_olap_spark.operators import neardup, semdedup, similarity
from export_oltp_to_olap_spark.operators.diff import DELTA_CUT_FRACTION
from export_oltp_to_olap_spark.operators.similarity import (
    centroid_table,
    rank_centroids,
    with_norm,
)


@pytest.fixture(scope="module")
def sf01(sf001):
    path = os.path.join(os.path.dirname(sf001.rstrip("/")), "sf0.1")
    if not os.path.isdir(path):
        pytest.skip("sf0.1 fixtures not generated")
    return path


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _exponent(c_small, c_big, n_small, n_big):
    return math.log(c_big / c_small) / math.log(n_big / n_small)


def test_minhash_candidates_subquadratic(spark, sf001, sf01):
    """High-threshold banded MinHash: sparse collisions — the exponent
    itself must be well under 2 (measured 1.55 on 31 → 1108 candidates
    over 10× docs)."""
    c = {}
    n = {}
    for sf in (sf001, sf01):
        n[sf] = _docs(spark, sf).count()
        c[sf] = neardup.minhash_candidate_pairs(_docs(spark, sf)).count()
    e = _exponent(c[sf001], c[sf01], n[sf001], n[sf01])
    assert e < 1.8, f"minhash candidate growth exponent {e:.2f}"


def test_semdedup_pairs_subquadratic_with_sqrt_k(spark, sf001, sf01):
    """SemDeDup's Σ|c|² pair cost is N²/C; with the production rule
    C = k ≈ √N it must land near N^1.5 (measured 1.50: 5683 → 45236
    pairs over 4× vectors at k=22 → 44).  Fixed k would be exponent 2 —
    the assertion enforces that scaling k is sufficient, which is the
    operator's documented 100 TB discipline."""
    c = {}
    n = {}
    for sf in (sf001, sf01):
        emb = _emb(spark, sf)
        n[sf] = emb.count()
        k = max(4, math.isqrt(n[sf]))
        base = with_norm(emb).select("vec_id", "embedding", "norm")
        assigned = (
            rank_centroids(base, centroid_table(base, k, "first"))
            .where(F.col("cen_rank") == 1)
            .select("vec_id", F.col("cen_id").alias("cluster_id"))
            .withColumn("embedding", F.lit(None).cast("array<double>"))
            .withColumn("norm", F.lit(1.0))
        )
        c[sf] = semdedup._within_cluster_pairs(assigned).count()
    e = _exponent(c[sf001], c[sf01], n[sf001], n[sf01])
    assert e < 1.7, f"semdedup pair growth exponent {e:.2f} at k=sqrt(N)"


def test_ngram_dfcap_turns_growth_near_flat(spark, sf001, sf01):
    """The uncapped prefix-filter candidates track the corpus's dense dup
    structure (~constant 1.5% of pair space → exponent ≈ 2 by the data's
    own shape); the df-capped index is the asymptotic lever and must
    crush that growth (measured: 11179 → 18410 = exponent 0.22, vs
    11533 → 1.13M uncapped)."""
    cap = 5
    counts = {}
    n = {}
    frac = {}
    for sf in (sf001, sf01):
        docs = _docs(spark, sf)
        n[sf] = docs.count()
        idx = neardup.shingle_index(docs, 3, cap)
        a, b = idx.alias("a"), idx.alias("b")
        counts[sf] = (
            a.join(
                b,
                on=[F.col("a.sh") == F.col("b.sh"), F.col("a.doc_id") < F.col("b.doc_id")],
            )
            .select(F.col("a.doc_id"), F.col("b.doc_id"))
            .distinct()
            .count()
        )
        pre = neardup.ngram_candidate_pairs(docs).count()
        frac[sf] = pre / (n[sf] * (n[sf] - 1) / 2)
    e = _exponent(counts[sf001], counts[sf01], n[sf001], n[sf01])
    assert e < 1.0, f"df-capped candidate growth exponent {e:.2f}"
    # Uncapped prefix filter: constant-factor pruning must not DEGRADE
    # with scale (fraction of pair space non-increasing, ~1.5%).
    assert frac[sf01] <= frac[sf001] * 1.10, (
        f"prefix-filter pruning degraded: {frac[sf001]:.4f} -> {frac[sf01]:.4f}"
    )
    assert frac[sf01] < 0.05


@pytest.mark.slow
def test_simhash_candidates_output_bound(spark, sf001, sf01):
    """The fixture's identical-template families make the TRUE hamming ≤ 8
    pair set itself quadratic (24.7k → 2.49M pairs), so no candidate
    scheme can be subquadratic in N here.  The scale claim is
    output-sensitivity: banded fingerprint-pair candidates stay within a
    small constant factor of the answer, and that factor does not grow
    (measured 3.05× → 2.24×)."""
    ratio = {}
    for sf in (sf001, sf01):
        docs = _docs(spark, sf)
        cand = neardup.simhash_candidate_fp_pairs(docs, 8).count()
        out = neardup.simhash_neardup(docs, 8).count()
        ratio[sf] = cand / max(out, 1)
    assert ratio[sf001] < 5 and ratio[sf01] < 5, ratio
    assert ratio[sf01] <= ratio[sf001] * 1.10, f"candidate/answer ratio grew: {ratio}"


def test_lsh_candidate_fraction_does_not_degrade(spark, sf001, sf01):
    """Hyperplane-LSH on this weak-gap corpus is a constant-factor pruner
    (similarity.py parameter study): the candidate fraction of pair space
    must hold ≤ the tested 30% bound at BOTH scales and not increase
    with N (measured 24.8% → 24.4%)."""
    frac = {}
    for sf in (sf001, sf01):
        emb = _emb(spark, sf)
        n = emb.count()
        frac[sf] = similarity.lsh_candidate_pairs(emb).count() / (n * (n - 1) / 2)
    assert frac[sf001] <= 0.30 and frac[sf01] <= 0.30, frac
    assert frac[sf01] <= frac[sf001] * 1.05, f"LSH pruning degraded: {frac}"


def test_decontam_work_grows_linearly(spark, sf001, sf01):
    """Decontamination's joined row volume is the corpus's exploded
    distinct-gram count — strictly linear in corpus tokens (exponent ~1;
    the broadcast eval side never multiplies it).  Quadratic blowup is
    impossible by construction, but pin the exploded volume anyway so a
    future rewrite that joins corpus-side grams against themselves
    (accidental self-join) trips this immediately."""
    from export_oltp_to_olap_spark.functions.text import word_shingles
    from export_oltp_to_olap_spark.operators.decontam import FIXTURE_N

    c, n = {}, {}
    for sf in (sf001, sf01):
        docs = _docs(spark, sf)
        n[sf] = docs.count()
        c[sf] = (
            docs.select(
                F.explode(F.array_distinct(word_shingles("text", FIXTURE_N))).alias("g")
            )
        ).count()
    e = _exponent(c[sf001], c[sf01], n[sf001], n[sf01])
    assert e < 1.2, f"decontam gram-volume growth exponent {e:.2f}"


def test_chunking_output_linear_in_tokens(spark, sf001, sf01):
    """Chunk fan-out = tokens x (1 + overlap/stride): linear, with the
    constant pinned — chunk rows stay within 2x of n_tokens/stride."""
    from export_oltp_to_olap_spark.operators.chunking import (
        CHUNK_OVERLAP,
        CHUNK_TOKENS,
        chunk_documents,
    )
    from export_oltp_to_olap_spark.functions.text import tokens as toks

    stride = CHUNK_TOKENS - CHUNK_OVERLAP
    for sf in (sf001, sf01):
        docs = _docs(spark, sf)
        n_tokens = docs.select(F.sum(F.size(toks("text")))).collect()[0][0]
        n_chunks = chunk_documents(docs).count()
        assert n_chunks <= 2 * (n_tokens / stride) + docs.count(), (
            f"chunk fan-out {n_chunks} too large for {n_tokens} tokens at {sf}"
        )


def test_duplicated_span_join_volume_linear_in_positions(spark, sf001, sf01):
    """The span detector's only join emits one row per seed-hit POSITION
    — never per pair — so its volume is bounded by the corpus's total
    token positions (exponent ≤ ~1 in corpus size by construction; a
    rewrite that joined positions against positions per gram would blow
    past this immediately)."""
    from export_oltp_to_olap_spark.operators.substring import (
        FIXTURE_SPAN_N,
        positional_grams,
    )

    dup_rows, positions = {}, {}
    for sf in (sf001, sf01):
        docs = _docs(spark, sf)
        pg = positional_grams(docs, FIXTURE_SPAN_N)
        positions[sf] = pg.count()
        seeds = pg.groupBy("g").agg(F.count(F.lit(1)).alias("occ")).where(F.col("occ") >= 2)
        dup_rows[sf] = pg.join(seeds.select("g"), "g").count()
        assert dup_rows[sf] <= positions[sf]
    e = _exponent(dup_rows[sf001], dup_rows[sf01], positions[sf001], positions[sf01])
    assert e < 1.2, f"span seed-join growth exponent {e:.2f} vs positions"


def test_curated_delta_cost_independent_of_standing_size(spark, sf01):
    """MEASURED (not just structural) standing-size independence of the
    steady-state delta path (VERDICT r5 item 5): the same 500-doc delta
    curated against persisted standing artifacts of 500 vs 4500 docs
    (9×) must cost ~the same — the batch touches the standing corpus
    only through the anti-join text set and the prefix-index probes,
    never re-gating or re-shingling it.  A regression back to O(corpus)
    (e.g. deriving standing tables in-call) would show ~9× here; the
    pinned bound is median ratio < 3.0 (exponent < 0.5 in standing
    size), generous against container timing noise (2026-08 measured
    medians: 2.5 s small / 1.9 s big — flat).  Standing-state builds are
    OUTSIDE the timers: they are the once-persisted production tables.
    """
    import time

    from export_oltp_to_olap_spark.plans.curation import (
        curated_delta,
        standing_state,
    )

    docs = _docs(spark, sf01).select("doc_id", "text")
    mx = docs.agg(F.max("doc_id")).first()[0]
    delta = docs.where(F.col("doc_id") > mx - 500)
    standings = {
        "small": docs.where(
            (F.col("doc_id") <= mx - 500) & (F.col("doc_id") > mx - 1000)
        ),
        "big": docs.where(F.col("doc_id") <= mx - 500),
    }
    medians = {}
    for name, standing in standings.items():
        cur, sets = standing_state(standing)
        if name == "small":  # one untimed warmup so JIT doesn't bias `small` up
            curated_delta(None, delta, standing_curated=cur, standing_sets=sets).count()
        times = []
        for _ in range(3):
            t0 = time.time()
            n = curated_delta(
                None, delta, standing_curated=cur, standing_sets=sets
            ).count()
            times.append(time.time() - t0)
        assert n > 0
        medians[name] = sorted(times)[1]
    ratio = medians["big"] / medians["small"]
    assert ratio < 3.0, (
        f"delta cost grew {ratio:.2f}× for a 9× standing corpus — the "
        f"steady-state path is re-processing the standing corpus"
    )


def test_winnowing_fingerprint_volume_linear(spark, sf001, sf01):
    """Winnowing's selection density is 2/(w+1) regardless of corpus
    size, so the fingerprint set must grow ~linearly with the corpus
    (measured exponent 0.98: 8,464 → 81,646 fingerprints over 10×
    docs).  A superlinear exponent here would mean the per-doc sketch
    is growing with N — the property that would sink the clone-signal
    join at 100 TB."""
    from export_oltp_to_olap_spark.operators import winnow

    c = {}
    n = {}
    for sf in (sf001, sf01):
        n[sf] = _docs(spark, sf).count()
        c[sf] = winnow.winnowing_fingerprints(_docs(spark, sf)).count()
    e = _exponent(c[sf001], c[sf01], n[sf001], n[sf01])
    assert e < 1.15, f"winnowing fingerprint growth exponent {e:.2f}"


def test_winnowing_clone_pairs_answer_bounded(spark, sf001, sf01):
    """The clone-signal join's pair volume is driven by the fixture's
    real dup-family structure (like the low-threshold neardup
    operators), not by N² — measured exponent 1.32 (605 → 12,771
    hash-sharing pairs over 10× docs), held under the same 1.8 class
    bound as MinHash."""
    from export_oltp_to_olap_spark.operators import winnow

    c = {}
    n = {}
    for sf in (sf001, sf01):
        docs = _docs(spark, sf)
        n[sf] = docs.count()
        fph = (
            winnow.winnowing_fingerprints(docs)
            .select("doc_id", "fp_hash")
            .distinct()
        )
        a = fph.select(F.col("doc_id").alias("ad"), F.col("fp_hash").alias("ah"))
        b = fph.select(F.col("doc_id").alias("bd"), F.col("fp_hash").alias("bh"))
        c[sf] = a.join(
            b, (F.col("ah") == F.col("bh")) & (F.col("ad") < F.col("bd"))
        ).count()
    e = _exponent(c[sf001], c[sf01], n[sf001], n[sf01])
    assert e < 1.8, f"winnowing clone-pair growth exponent {e:.2f}"


def test_winnowing_df_cap_bounds_boilerplate_join(spark):
    """The clone-signal df-cap (VERDICT r7 item 2): M documents sharing
    one boilerplate header put M² rows on a single join key; with
    hashes above CLONE_SIGNAL_MAX_DF docs dropped from the join, the
    join input must grow ~linearly in M.  Join input is computed
    exactly as Σ df·(df−1) over the surviving hash dfs (the ordered
    pair volume the shared-docs join would shuffle) — capped exponent
    pinned ≤ 1.1 while the uncapped volume on the same corpora is
    ≥ 1.8 (the blow-up the cap exists to kill)."""
    from export_oltp_to_olap_spark.operators import winnow

    boiler = (
        "copyright acme corporation all rights reserved redistribution "
        "permitted under license terms apply"
    )
    cap = 16

    def pair_volume(m):
        # Each doc = the shared boilerplate header (df = m, hot) + an
        # 8-token passage shared with ONE partner doc (df = 2, the
        # linear-in-m genuine clone signal) + a unique tail.
        rows = [
            (
                i,
                f"{boiler} pair{i // 2}a pair{i // 2}b pair{i // 2}c "
                f"pair{i // 2}d pair{i // 2}e pair{i // 2}f pair{i // 2}g "
                f"pair{i // 2}h unique tail w{i}a w{i}b w{i}c",
            )
            for i in range(1, m + 1)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        dfs = (
            winnow.winnowing_fingerprints(docs)
            .select("doc_id", "fp_hash")
            .distinct()
            .groupBy("fp_hash")
            .agg(F.count(F.lit(1)).alias("df"))
        )
        vol = dfs.agg(
            F.sum(
                F.when(F.col("df") <= cap, F.col("df") * (F.col("df") - 1)).otherwise(
                    F.lit(0)
                )
            ).alias("capped"),
            F.sum(F.col("df") * (F.col("df") - 1)).alias("uncapped"),
        ).collect()[0]
        return vol.capped, vol.uncapped

    m_small, m_big = 40, 160
    cap_s, unc_s = pair_volume(m_small)
    cap_b, unc_b = pair_volume(m_big)
    e_capped = _exponent(cap_s, cap_b, m_small, m_big)
    e_uncapped = _exponent(unc_s, unc_b, m_small, m_big)
    assert e_uncapped >= 1.8, f"corpus not boilerplate-heavy? {e_uncapped:.2f}"
    assert e_capped <= 1.1, (
        f"df-capped clone-join volume grew with exponent {e_capped:.2f} "
        f"on a boilerplate-heavy corpus — the cap is not bounding the join"
    )


def test_bloom_candidate_stream_tracks_the_answer(spark, sf001, sf01):
    """The Bloom prefilter's 100 TB claim is that the verify join moves
    candidates ≈ true hits + fp overhead, at EVERY scale — the filter's
    selectivity must track the answer, not the corpus.  Measured: the
    overhead is ZERO at both fixture scales (50/50 and 8,619/8,619
    candidates/true-hits — a 2 MiB bitmap against ≤ ~20k eval grams
    puts the textbook fp rate around 1e-11); the assertion allows the
    10× statistical envelope the unit test uses."""
    import numpy as np

    from export_oltp_to_olap_spark.functions.text import word_shingles
    from export_oltp_to_olap_spark.operators import decontam

    for sf in (sf001, sf01):
        train, ev = decontam.train_eval_split(_docs(spark, sf))
        grams = train.select(
            F.explode(
                F.array_distinct(word_shingles("text", decontam.FIXTURE_N))
            ).alias("gram")
        ).select(F.md5("gram").alias("g"), *decontam._gram_hash_cols())
        total = grams.count()
        true_hits = grams.join(decontam.eval_ngram_set(ev), "g").count()
        bm = decontam.eval_gram_bloom(ev)
        pdf = grams.select("h1", "h2").toPandas()
        pos = decontam._bloom_positions(
            pdf["h1"].to_numpy(), pdf["h2"].to_numpy(),
            decontam.BLOOM_M_BITS, decontam.BLOOM_K,
        )
        bits = np.uint8(1) << (pos & 7).astype("uint8")
        cand = int(((bm[pos >> 3] & bits) != 0).all(axis=0).sum())
        n_eval = decontam.eval_ngram_set(ev).count()
        expected_fp = (
            1 - np.exp(-decontam.BLOOM_K * n_eval / decontam.BLOOM_M_BITS)
        ) ** decontam.BLOOM_K
        envelope = max(10 * expected_fp * (total - true_hits), 1.0)
        assert cand >= true_hits, (sf, cand, true_hits)  # no false negatives
        assert cand - true_hits <= envelope, (sf, cand, true_hits, envelope)


def test_media_neardup_2d_blocking_splits_hot_size_band(spark):
    """The media-dedup fixed-size-corpus case (VERDICT r8 item 2): real
    media concentrates in hot size bands (every 224×224 crop has one
    byte size), so size-only blocking puts M items on a single join key
    — M² candidates.  The second lossless dimension (n_low, the
    below-110 byte count) must split that band: with each dup family at
    a distinct byte mix, candidate volume grows ~linearly while the
    size-only counterfactual is exactly M(M−1)/2.  The answer itself is
    pinned: exactly the planted partner pairs at their true L1."""
    from export_oltp_to_olap_spark.multimodal import media as M

    def make_docs(m, L):
        # doc_id multiples of 3 → all items land in one `kind`
        # (synthesize_media assigns kind by doc_id % 3); every doc the
        # SAME byte length (the hot size band).  Partner pairs (2p,
        # 2p+1) differ by 4 'a'↔'z' swaps (L1 = 8 ≤ 24: near-dups);
        # different pairs sit ≥ 100·2 = 200 apart in n_low (not dups).
        rows = []
        for i in range(m):
            k = (i // 2) * 100 + (i % 2) * 4  # == n_low ('a' < 110 ≤ 'z')
            rows.append((3 * (i + 1), "a" * k + "z" * (L - k)))
        return spark.createDataFrame(rows, "doc_id long, text string")

    m_small, m_big = 40, 160
    L = (m_big // 2) * 100 + 200
    c_small = M.media_neardup_candidates(make_docs(m_small, L)).count()
    c_big = M.media_neardup_candidates(make_docs(m_big, L)).count()
    e_blocked = _exponent(c_small, c_big, m_small, m_big)
    e_size_only = _exponent(
        m_small * (m_small - 1) / 2, m_big * (m_big - 1) / 2, m_small, m_big
    )
    assert e_size_only >= 1.8  # the blow-up the second key exists to kill
    assert e_blocked <= 1.1, (
        f"2-D-blocked candidate volume grew with exponent {e_blocked:.2f} "
        f"on a fixed-size corpus — the n_low key is not splitting the band"
    )
    # Lossless: the verify still finds exactly the planted pairs.
    pairs = M.media_histogram_neardup(make_docs(m_small, L)).collect()
    assert len(pairs) == m_small // 2
    assert all(r.l1_dist == 8 for r in pairs)
    assert all(r.media_id_b - r.media_id_a == 3 for r in pairs)


def test_media_neardup_cell_cap_kills_degenerate_cell_and_is_surfaced(spark):
    """Truly degenerate corpora — identical size AND identical byte
    mix — defeat both lossless keys; the per-cell cap must drop those
    cells (bounding the join) and the truncation ledger must surface
    every affected item (the winnowing ``capped_hashes`` pattern)."""
    from export_oltp_to_olap_spark.multimodal import media as M

    m, L = 40, 500
    rows = [
        # all docs: size L, n_low = L-2 (two trailing ≥'n' chars vary
        # by doc, keeping every item in the same 4 blocking cells)
        (3 * (i + 1), "a" * (L - 2) + chr(110 + i % 13) + chr(110 + (i * 7) % 13))
        for i in range(m)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # Uncapped (production default, far above m): the degenerate cell
    # yields the full quadratic candidate set.
    assert M.media_neardup_candidates(docs).count() == m * (m - 1) // 2
    # Capped: the hot cells are dropped entirely...
    assert M.media_neardup_candidates(docs, max_cell_items=16).count() == 0
    # ...and every item reports all 4 of its cells as capped.
    ledger = M.media_neardup_capped_items(docs, max_cell_items=16).collect()
    assert len(ledger) == m
    assert all(r.capped_cells == 4 for r in ledger)


def test_media_delta_candidates_subquadratic_vs_rebuild(spark):
    """The delta face's 100 TB claim: per batch, candidate volume is
    O(delta × cell occupancy) — so with a FIXED delta batch against a
    growing standing corpus, delta candidates grow ~linearly in the
    standing size while the full rebuild's candidate set grows
    ~quadratically.  Crafted on the hot-size-band corpus shape (all
    docs one byte length, byte-mix families) so cells genuinely fill."""
    from export_oltp_to_olap_spark.multimodal import media as M

    d = 12  # fixed delta batch

    def corpora(m):
        # m standing docs + d delta docs (ids above the 0.9 cut), all
        # the same byte length; every doc's n_low lands in ONE of 8
        # byte-mix families, so each family's cell occupancy grows
        # with m (the hot-cell shape) while blocking still splits.
        L = 1000
        rows = []
        for i in range(m):
            k = (i % 8) * 100  # family byte mix
            rows.append((i + 1, "a" * k + "z" * (L - k)))
        base = max((r[0] for r in rows), default=0)
        delta_start = max(base + 1, int(10 * (base + d)))  # ids far above the cut
        for j in range(d):
            k = (j % 8) * 100
            rows.append((delta_start + j, "a" * (k + 2) + "z" * (L - k - 2)))
        return spark.createDataFrame(rows, "doc_id long, text string")

    def volumes(m):
        docs = corpora(m)
        delta_cand = M.media_neardup_candidates(docs).count()  # rebuild volume
        # the delta face's own candidate count: pairs touching delta ids
        cut_pairs = M.media_neardup_delta(docs).count()  # answer (sanity)
        from pyspark.sql import functions as F

        cut = docs.agg(
            F.floor(F.lit(DELTA_CUT_FRACTION) * F.max("doc_id")).alias("c")
        ).first().c
        rebuild = delta_cand
        touching = (
            M.media_neardup_candidates(docs)
            .where(F.col("media_id_b") > cut)
            .count()
        )
        return touching, rebuild, cut_pairs

    t_small, r_small, _ = volumes(64)
    t_big, r_big, pairs_big = volumes(256)
    e_delta = _exponent(max(t_small, 1), max(t_big, 1), 64, 256)
    e_rebuild = _exponent(max(r_small, 1), max(r_big, 1), 64, 256)
    assert e_rebuild >= 1.7, (r_small, r_big)  # hot families → ~quadratic rebuild
    assert e_delta <= 1.2, (
        f"delta-touching candidates grew with exponent {e_delta:.2f} "
        f"({t_small} → {t_big}) — the delta face is not O(delta × occupancy)"
    )
    assert pairs_big >= d  # every delta doc finds its family partner
