"""SemDeDup: cluster-scoped semantic deduplication over embeddings.

The published recipe (Abbas et al., "SemDeDup: Data-efficient learning
at web-scale through semantic deduplication", arXiv:2303.09540): cluster
the corpus embeddings, then look for near-duplicate pairs ONLY inside
each cluster, dropping every vector that sits within ``threshold``
cosine of ANY lower-id vector in its cluster — kept or itself dropped
(for a chain A~B, B~C, A≁C the engine drops C although its only witness
B was dropped; deliberately NOT the paper's keep-one-representative
semantics, but the deterministic single-pass policy its SQL oracle,
streaming twin, and tests all share).  This is the
scale-correct form of embedding dedup: pair cost falls from O(N²) to
Σ|cluster|² ≈ N²/C, and each cluster's pair join is an independent,
shuffle-partitioned unit — no global all-pairs stage anywhere.

Reference parity: the reference engine has no embedding operators; this
is a north-star extension (BASELINE.json).  Engine conventions
(deterministic first-N centroids for the oracle, raw-double argmax
assignment, prescore → When-guarded exact-decimal rescore) are shared
with `operators/similarity.py` — see its module docstring for the
cross-engine exactness argument.

100 TB notes:
* Assignment is a broadcast crossJoin (C centroids ≈ √N rows ≪ data) —
  one map-side pass, no shuffle.
* The within-cluster self-join shuffles on ``cluster_id``; a hot
  cluster (skewed semantic mass) is the known failure mode — production
  SemDeDup caps cluster size by raising C (k ≈ √N keeps E[|c|²] ≈ N).
  When one list still dominates, ``max_members_per_pair_task`` wires
  the salted self-join: each cluster is split into
  ``n_salt = ceil(|c|/cap)`` deterministic salt groups and every pair
  meets in exactly one (cluster, sa, sb) cell — the SAME pair set
  (verified by tests), but no join cell carries more than cap² pair
  work, so a 50 %-of-corpus cluster spreads over n_salt² tasks instead
  of one reducer.  Replication cost: each side is duplicated n_salt×
  within oversize clusters only (n_salt folds to 1 elsewhere).
* The keep/drop rule needs only lower-id pairs ABOVE the threshold, so
  the expensive exact rescore runs just on prescore survivors — the
  interpreted decimal dot never touches the full pair space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from export_oltp_to_olap_spark.operators.diff import RETRACT_MOD, tombstoned
from export_oltp_to_olap_spark.operators.similarity import (
    PRESCORE_MARGIN,
    _exact_dot,
    _pair_dot_udf,
    centroid_table,
    rank_centroids,
    with_norm,
)
from export_oltp_to_olap_spark.operators.staging import stage_fanout

SEMDEDUP_CENTROIDS = 16
SEMDEDUP_THRESHOLD = 0.4


def _within_cluster_pairs(
    assigned: DataFrame, max_members_per_pair_task: int | None = None
) -> DataFrame:
    """All (vec_a < vec_b) same-cluster candidate pairs.

    Plain mode: one self-join keyed on ``cluster_id`` — a hot cluster's
    |c|² pairs land on ONE reducer.

    Salted mode (``max_members_per_pair_task`` set): per-cluster adaptive
    salting.  Each member gets a deterministic salt
    ``pmod(xxhash64(vec_id), n_salt)`` with ``n_salt = ceil(|c|/cap)``;
    side A replicates each row across all ``sb`` values, side B across
    all ``sa`` values, and the join keys on (cluster_id, __sa, __sb) —
    so the pair (x, y) meets in exactly the one cell (salt(x), salt(y))
    and the union of cells is EXACTLY the plain pair set (no dups: cell
    identity is a function of the pair).  Salt groups are hash-balanced:
    cell side-size is cap in EXPECTATION with O(√cap) multinomial
    deviation (exact balancing would need a per-cluster row_number
    window, which serializes the hot cluster through one task — the
    very bottleneck being removed).  A 50 %-of-corpus cluster thus
    spreads its |c|² pair work over ~n_salt² cells of ~cap² each.
    Cluster sizes come from one cheap agg broadcast back onto the
    members (C rows).  Small clusters fold to n_salt=1 — a single cell,
    zero replication — so one code path serves both regimes.
    """
    a_cols = [
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    ]
    b_cols = [
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    ]
    if max_members_per_pair_task is None:
        a = assigned.select(F.col("cluster_id"), *a_cols)
        b = assigned.select(F.col("cluster_id"), *b_cols)
        return a.join(b, on=["cluster_id"]).where(F.col("vec_a") < F.col("vec_b"))

    sizes = assigned.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("__csize"))
    n_salt = F.greatest(
        F.lit(1),
        F.ceil(F.col("__csize") / F.lit(max_members_per_pair_task)),
    ).cast("int")
    sized = assigned.join(
        F.broadcast(sizes.select("cluster_id", n_salt.alias("__nsalt"))),
        "cluster_id",
    )
    salt = F.pmod(F.xxhash64("vec_id"), F.col("__nsalt")).cast("int")
    replicas = F.explode(F.sequence(F.lit(0), F.col("__nsalt") - 1))
    a = sized.select(
        F.col("cluster_id"), *a_cols, salt.alias("__sa"), F.col("__nsalt")
    ).withColumn("__sb", replicas).drop("__nsalt")
    b = sized.select(
        F.col("cluster_id"), *b_cols, salt.alias("__sb"), F.col("__nsalt")
    ).withColumn("__sa", replicas).drop("__nsalt")
    return a.join(b, on=["cluster_id", "__sa", "__sb"]).where(
        F.col("vec_a") < F.col("vec_b")
    )


def semantic_dedup(
    embeddings: DataFrame,
    n_centroids: int = SEMDEDUP_CENTROIDS,
    threshold: float = SEMDEDUP_THRESHOLD,
    centroid_mode: str = "first",
    max_members_per_pair_task: int | None = None,
) -> DataFrame:
    """One row per vector: (vec_id, cluster_id, kept, dup_cos).

    ``kept`` is false iff some lower-id vector in the same cluster has
    cosine ≥ threshold; ``dup_cos`` is the strongest such similarity
    (NULL for kept rows).  Lower-id-wins is the deterministic,
    non-iterative keep policy (the same LWW convention as the dedup
    family) — unlike connected components it needs no iteration, so the
    whole operator is two shuffles: centroid-argmax window + the
    within-cluster pair join/agg.

    ``centroid_mode``: "first" (deterministic, oracle-restatable) or
    "kmeans" (learned clusters — tighter semantic lists, no SQL oracle).

    ``max_members_per_pair_task``: hot-cluster mitigation — cap the
    members any one pair-join cell sees (see ``_within_cluster_pairs``).
    Output is IDENTICAL either way (tests pin it); the knob only
    re-partitions the pair work, so set it whenever cluster sizes are
    unknown or skewed.
    """
    assigned = _staged_assignment(embeddings, n_centroids, centroid_mode)
    dup_pairs = (
        _scored_pairs(assigned, threshold, max_members_per_pair_task)
        .groupBy(F.col("vec_b").alias("vec_id"))
        .agg(F.max("cos").alias("dup_cos"))
    )
    return (
        assigned.select("vec_id", "cluster_id")
        .join(dup_pairs, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            F.col("dup_cos").isNull().alias("kept"),
            "dup_cos",
        )
    )


def _staged_assignment(
    embeddings: DataFrame, n_centroids: int, centroid_mode: str
) -> DataFrame:
    """Centroid-argmax assignment, staged once — shared by
    `semantic_dedup` and the threshold curve so the exactness recipe has
    ONE home per engine.  Staged because several branches (pair sides
    a/b, the keep/drop select, the curve sweep) consume it through
    different projections, which defeats exchange reuse and would re-run
    the full N×C assignment pass per branch (same rule as
    plans/curation.py); fan-out staging = cache under the default conf,
    checkpoint/table on a cluster — operators/staging.py."""
    base = with_norm(embeddings).select("vec_id", "embedding", "norm")
    return stage_fanout(
        rank_centroids(base, centroid_table(base, n_centroids, centroid_mode))
        .where(F.col("cen_rank") == 1)
        .select("vec_id", "embedding", "norm", F.col("cen_id").alias("cluster_id"))
    )


def _scored_pairs(
    assigned: DataFrame, floor_threshold: float, max_members: int | None
) -> DataFrame:
    """Within-cluster pairs with ``cos ≥ floor_threshold`` — the shared
    exactness recipe: vectorized prescore dot, then the exact decimal
    dot When-guarded so it only evaluates on prescore survivors
    (Catalyst merges stacked filters — see similarity.py)."""
    pair_dot = _pair_dot_udf()
    return (
        _within_cluster_pairs(assigned, max_members)
        .withColumn(
            "cos_pre",
            pair_dot(F.col("emb_a"), F.col("emb_b"))
            / (F.col("norm_a") * F.col("norm_b")),
        )
        .withColumn(
            "cos",
            F.when(
                F.col("cos_pre") >= F.lit(floor_threshold - PRESCORE_MARGIN),
                F.round(
                    _exact_dot(F.col("emb_a"), F.col("emb_b"))
                    / (F.col("norm_a") * F.col("norm_b")),
                    6,
                ),
            ),
        )
        .where(F.col("cos") >= F.lit(floor_threshold))
    )


def _assignment_ctes(n_centroids: int) -> str:
    """The norms → centroid-sims → argmax-assignment CTE text — ONE home
    for the oracle-side assignment, shared by `semantic_dedup_sql` and
    the threshold-curve SQL (the Spark twin is `_staged_assignment`)."""
    from export_oltp_to_olap_spark.operators.similarity import _NORMS_CTE

    return f"""{_NORMS_CTE},
cen_sims AS (
  SELECT v.vec_id, c.vec_id AS cen_id,
         SUM(v.e * c.e) / (nv.norm * nc.norm) AS sim
  FROM elems v
  JOIN elems c ON c.i = v.i AND c.vec_id < {n_centroids}
  JOIN norms nv ON nv.vec_id = v.vec_id
  JOIN norms nc ON nc.vec_id = c.vec_id
  GROUP BY v.vec_id, c.vec_id, nv.norm, nc.norm
),
assigned AS (
  SELECT vec_id, cen_id AS cluster_id
  FROM (SELECT vec_id, cen_id,
               row_number() OVER (
                   PARTITION BY vec_id ORDER BY sim DESC, cen_id) AS cen_rank
        FROM cen_sims)
  WHERE cen_rank = 1
)"""


def _pair_cos_cte(name: str, out_col: str, floor_threshold: float) -> str:
    """The within-cluster exact-decimal pair-cosine CTE with the floor
    cut — ONE home for the oracle-side exactness recipe (the Spark twin
    is `_scored_pairs`)."""
    exact = (
        "round(CAST(round(SUM(CAST(ea.e * eb.e AS DECIMAL(38,16))), 12) AS DOUBLE)"
        "\n               / (na.norm * nb.norm), 6)"
    )
    return f"""{name} AS (
  SELECT p.vb AS {out_col},
         {exact} AS cos
  FROM (
    SELECT a.vec_id AS va, b.vec_id AS vb
    FROM assigned a JOIN assigned b
      ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  ) p
  JOIN elems ea ON ea.vec_id = p.va
  JOIN elems eb ON eb.vec_id = p.vb AND eb.i = ea.i
  JOIN norms na ON na.vec_id = p.va
  JOIN norms nb ON nb.vec_id = p.vb
  GROUP BY p.va, p.vb, na.norm, nb.norm
  HAVING {exact} >= {floor_threshold}
)"""


def semantic_dedup_sql(
    n_centroids: int = SEMDEDUP_CENTROIDS,
    threshold: float = SEMDEDUP_THRESHOLD,
) -> str:
    """DuckDB restatement of `semantic_dedup(centroid_mode="first")`."""
    return f"""
WITH {_assignment_ctes(n_centroids)},
{_pair_cos_cte("dup_pairs", "vec_id", threshold)}
SELECT a.vec_id, a.cluster_id,
       (d.dup_cos IS NULL) AS kept,
       d.dup_cos
FROM assigned a
LEFT JOIN (SELECT vec_id, max(cos) AS dup_cos
           FROM dup_pairs GROUP BY vec_id) d
  ON d.vec_id = a.vec_id
"""


# ---------------------------------------------------------------------------
# Threshold calibration curve — the embedding-side twin of
# neardup.neardup_threshold_curve
# ---------------------------------------------------------------------------

# Levels straddle the fixture operating point (SEMDEDUP_THRESHOLD=0.4):
# synthetic embeddings are near-orthogonal, so cosines above ~0.45 are
# empty — a curve of all-zero rows calibrates nothing.
SEMDEDUP_CURVE = (0.25, 0.3, 0.35, 0.4, 0.45)


def semdedup_threshold_curve(
    embeddings: DataFrame,
    thresholds: tuple[float, ...] = SEMDEDUP_CURVE,
    n_centroids: int = SEMDEDUP_CENTROIDS,
    centroid_mode: str = "first",
    max_members_per_pair_task: int | None = None,
) -> DataFrame:
    """(threshold, n_pairs, n_vecs_dropped) per candidate cosine cutoff
    — the knob-calibration table a SemDeDup rollout reads before
    committing to a threshold, exactly like the n-gram curve on the
    lexical side.

    ONE within-cluster pair pass at the loosest level (stricter levels'
    pairs are a subset, so the prescore guard at ``min(thresholds)`` is
    lossless for every level); the curve is a map-side explode over the
    threshold literals + one agg.  Assignment and pair scoring are
    `semantic_dedup`'s own helpers (`_staged_assignment`,
    `_scored_pairs`), so the cutoff comparisons are engine-identical by
    construction, and ``max_members_per_pair_task`` (hot-cluster
    salting) passes through — the curve scans MORE pairs than the
    operating point, so the skew knob matters here at least as much.
    """
    spark = embeddings.sparkSession
    tmin = min(thresholds)
    assigned = _staged_assignment(embeddings, n_centroids, centroid_mode)
    pairs = _scored_pairs(assigned, tmin, max_members_per_pair_task).select(
        "vec_b", "cos"
    )
    lits = [F.lit(float(x)) for x in thresholds]
    t = F.explode(F.array(*lits)).alias("threshold")
    counts = (
        pairs.select(t, "vec_b", "cos")
        .where(F.col("cos") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.countDistinct("vec_b").cast("bigint").alias("n_vecs_dropped"),
        )
    )
    levels = spark.range(1).select(t)
    return (
        levels.join(counts, "threshold", "left")
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
            F.coalesce("n_vecs_dropped", F.lit(0))
            .cast("bigint")
            .alias("n_vecs_dropped"),
        )
        .orderBy("threshold")
    )


def semdedup_threshold_curve_sql(
    thresholds: tuple[float, ...] = SEMDEDUP_CURVE,
    n_centroids: int = SEMDEDUP_CENTROIDS,
) -> str:
    """DuckDB restatement of `semdedup_threshold_curve` (first-K
    centroids) — composed from the SAME assignment and pair-cosine CTE
    builders as `semantic_dedup_sql`."""
    lits = ", ".join(str(x) for x in thresholds)
    return f"""
WITH {_assignment_ctes(n_centroids)},
{_pair_cos_cte("pair_cos", "vec_b", min(thresholds))}
SELECT CAST(t AS DOUBLE) AS threshold,
       CAST(count(p.vec_b) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT p.vec_b) AS BIGINT) AS n_vecs_dropped
FROM unnest([{lits}]) AS u(t)
LEFT JOIN pair_cos p ON p.cos >= CAST(t AS DOUBLE)
GROUP BY 1
ORDER BY 1
"""


SEMDEDUP_THRESHOLD_CURVE_SQL = semdedup_threshold_curve_sql()


# ---------------------------------------------------------------------------
# Delete-aware maintenance — the semantic leg of the retract ladder
# ---------------------------------------------------------------------------

def semdedup_retract(
    deleted_ids: DataFrame,
    standing_assignment: DataFrame,
    standing_map: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    max_members_per_pair_task: int | None = None,
) -> DataFrame:
    """Delete/tombstone maintenance of the SemDeDup keep/drop map — the
    cluster-retract discipline applied to the embedding family: only
    CELLS containing a deleted vector re-decide their keepers; every
    other cell's rows pass through untouched.

    Why affected-cells-only is exact: the centroid frame is FROZEN (the
    persisted artifact, exactly as `retract_ivf_index` declares — a
    deleted vector that was a centroid keeps defining its cell; drift
    is the rebuild-cadence ops decision), assignment is per-vector
    against that frame, and `kept` is a per-cell function of the cell's
    member set (lower-id-wins over ≥-threshold cosines).  Deleting a
    vector can only remove suppressors, so re-deciding the affected
    cells over their surviving members reproduces the
    rebuild-with-frozen-centroids exactly — no ordering precondition.

    Standing state: the assignment table (vec_id, embedding, norm,
    cluster_id — the same postings shape the IVF index persists) and
    the published map.  Cost: O(|affected cells' members|²) pair work
    via the shared salted `_scored_pairs` recipe; the standing
    population never re-pairs."""
    d = deleted_ids.select("vec_id").distinct()
    affected = (
        standing_assignment.join(d, "vec_id").select("cluster_id").distinct()
    )
    untouched = standing_map.join(F.broadcast(affected), "cluster_id", "left_anti")
    members = standing_assignment.join(F.broadcast(affected), "cluster_id").join(
        d, "vec_id", "left_anti"
    )
    dup_pairs = (
        _scored_pairs(members, threshold, max_members_per_pair_task)
        .groupBy(F.col("vec_b").alias("vec_id"))
        .agg(F.max("cos").alias("dup_cos"))
    )
    redecided = (
        members.select("vec_id", "cluster_id")
        .join(dup_pairs, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            F.col("dup_cos").isNull().alias("kept"),
            "dup_cos",
        )
    )
    return untouched.select(
        "vec_id", "cluster_id", "kept", "dup_cos"
    ).unionByName(redecided)


def semdedup_retract_fixture(embeddings: DataFrame) -> DataFrame:
    """Fixture face: the shared delete batch over vec_id (which includes
    centroid vectors 0 and 10 of the first-16 frame — the
    frozen-centroid contract is exercised, not assumed); the assignment
    table and standing map derive in-call (persisted artifacts in
    production)."""
    assigned = _staged_assignment(embeddings, SEMDEDUP_CENTROIDS, "first")
    deleted = tombstoned(embeddings.select("vec_id"), "vec_id")
    return semdedup_retract(deleted, assigned, semantic_dedup(embeddings))


def semdedup_retract_sql(
    n_centroids: int = SEMDEDUP_CENTROIDS,
    threshold: float = SEMDEDUP_THRESHOLD,
    mod: int = RETRACT_MOD,
) -> str:
    """The rebuild-with-frozen-centroids statement over the survivors:
    the shared assignment CTEs with the MEMBER side restricted to the
    surviving vec_ids (one targeted join insertion — pytest pins the
    anchor fired exactly once) while the centroid side keeps reading
    the full frame (`c.vec_id < N` — frozen artifact, deletions
    included)."""
    anchor = "  FROM elems v\n"
    assignment = _assignment_ctes(n_centroids)
    # ValueError, not assert: this anchor pin executes at module import
    # (SEMDEDUP_RETRACT_SQL below), where a bare assert vanishes under
    # python -O and would otherwise break every import of the module
    # rather than just this oracle.
    if assignment.count(anchor) != 1:
        raise ValueError(
            "semdedup_retract_sql: the survivors-join anchor must appear "
            f"exactly once in the assignment CTEs, found "
            f"{assignment.count(anchor)} — _assignment_ctes changed shape"
        )
    assignment = assignment.replace(
        anchor, "  FROM elems v\n  JOIN surv ON surv.vec_id = v.vec_id\n"
    )
    return f"""
WITH surv AS (SELECT vec_id FROM embeddings WHERE vec_id % {mod} <> 0),
{assignment},
{_pair_cos_cte("dup_pairs", "vec_id", threshold)}
SELECT a.vec_id, a.cluster_id,
       (d.dup_cos IS NULL) AS kept,
       d.dup_cos
FROM assigned a
LEFT JOIN (SELECT vec_id, max(cos) AS dup_cos
           FROM dup_pairs GROUP BY vec_id) d
  ON d.vec_id = a.vec_id
"""


SEMDEDUP_RETRACT_SQL = semdedup_retract_sql()
