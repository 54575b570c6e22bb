"""Semantic deduplication: k-means partitioning of the embedding space,
then near-duplicate pruning *within* clusters (the SemDeDup recipe —
Abbas et al. 2023, arXiv:2303.09540 — brute-force pair scoring is confined
to one cluster at a time instead of the whole corpus).

Beyond-reference surface (the reference has no embedding operators); sits
beside the hyperplane-LSH / IVF paths in ``operators/similarity.py`` as the
*clustered* candidate-generation strategy.

Determinism contract (the driver hash-compares against a DuckDB oracle):
every arithmetic step is 64-bit INTEGER, so no result depends on
floating-point summation order across partitions.

- embeddings are quantized once to a fixed grid: ``units = round(x · 10⁶)``;
- distances are exact integer ``Σ (aᵢ-bᵢ)²`` (≤ 64·(4·10¹²) ≈ 2.6·10¹⁴,
  comfortably inside int64);
- centroid update is ``sum div count`` (integer division) per dimension —
  integer sums are associative/commutative, so partition order is moot;
- assignment ties break on the lower centroid id.

100 TB shape (round 12): per Lloyd iteration, ONE map-side pass over the
corpus — the nearest-centroid argmin is a per-row expression against the
plan-time centroid constant (k·dim int64, driver-resident by construction,
the FAISS-training contract) — and the only exchange carries k·(dim+2)
longs of partial sums per task into the collected centroid update. The
corpus is never shuffled and never re-checkpointed inside the recurrence.
Within-cluster pair scoring is quadratic only in the largest cluster (cap
clusters via K, exactly like IVF cell sizing: K ≈ √N keeps E[|cluster|²]
≈ N).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: fixed-point grid for embedding coordinates (micro-units)
UNIT_SCALE = 1_000_000


def quantize_embeddings(
    df: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id, units: array<long>) — embeddings snapped to the integer grid.

    ``round(x·10⁶)`` via half-up on the double value; this is the ONLY
    float→int boundary, applied element-wise (order-free), after which the
    whole pipeline is exact.
    """
    return df.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * UNIT_SCALE, 0).cast("long"),
        ).alias("units"),
    )


def _sq_dist(a, b):
    """Exact integer squared L2 between two array<long> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _trunc_div(s: int, n: int) -> int:
    """Exact BIGINT ``div`` (truncation toward zero) on Python ints —
    ``//`` alone FLOORS, which differs on negative sums."""
    q = abs(s) // n
    return q if s >= 0 else -q


def _assign_best_expr(
    centroids: list[tuple[int, list[int]]], units_col: str = "units"
):
    """Nearest-centroid ``struct(dist, cid)`` argmin from PLAN-TIME
    centroid values, as ONE parsed SQL expression (round 12).

    The centroid matrix is written as nested ``array(...)`` literals —
    foldable, so ConstantFolding collapses it to a single array Literal
    before codegen; the non-foldable part is a ~30-node HOF tree
    (``transform`` + the exact :func:`_sq_dist` fold), so per-round
    plan/codegen stays O(1) in k·dim. ``array_min`` over the
    ``struct<dist,cid>`` candidates orders by dist, then cid, so ties
    break on the lower cid. ``cid`` rides a parallel literal id array
    (``element_at``), NOT the transform index: empty clusters vanish
    between rounds, so positions shift while ids must not.
    """
    cents = (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{int(v)}L" for v in cu) + ")"
            for _, cu in centroids
        )
        + ")"
    )
    cids = "array(" + ", ".join(str(int(cid)) for cid, _ in centroids) + ")"
    return F.expr(
        f"array_min(transform({cents}, (cu, i) -> named_struct("
        f"'dist', aggregate(zip_with({units_col}, cu, "
        f"(x, y) -> (x - y) * (x - y)), 0L, (a, v) -> a + v), "
        f"'cid', element_at({cids}, i + 1))))"
    )


def kmeans_fit(
    points: DataFrame, dim: int, k: int = 8, iters: int = 3
) -> DataFrame:
    """Deterministic Lloyd's: seed with the k lowest-id points, run a FIXED
    number of iterations (no convergence test — keeps the oracle an
    unrolled CTE chain, and bounds cluster-job wall time by construction).
    Returns the final assignment (id, units, cluster, dist).

    Round-12 shape (guide §1.2/§2.4 — fewer passes and fewer jobs): the
    ONLY cross-round state is K centroids (k·dim int64 ≤ a few KB —
    driver-resident by construction, the same contract as
    :func:`similarity.train_ivf_centroids` / FAISS training), so each
    round runs assignment + centroid update fused into ONE action — the
    per-cluster (count, dim sums) aggregate is collected (≤ k rows) and
    the integer mean feeds the next round's assignment as a plan-time
    constant (:func:`_assign_best_expr`) — instead of eagerly
    checkpointing the full (id, units[dim], best) corpus every round and
    running the centroid aggregate as a separate job. Per round the
    corpus is scanned once MAP-SIDE ONLY: the argmin is a per-row
    expression, so the groupBy(id) exchange of the corpus AND the
    per-round checkpoint write both disappear; the only exchange carries
    k·(dim+2) longs of partial sums per task. Eager build jobs drop
    12 → 8; 2.5×/2.2× at sf0.1 on semantic_dedup_kmeans /
    kmeans_cluster_profile (isolated min-of-N, old vs new at the same
    HEAD), bit-identical — the collected longs round-trip exactly and
    :func:`_trunc_div` reproduces `div` (property-tested against the
    broadcast-join + groupBy-argmin recurrence in the tests).

    Two rejected variants, kept as regression knowledge (guide §1.1):
    per-round centroid literals built from py4j Column calls or one
    giant unrolled-SQL arithmetic tree cost more than they save at any
    N — ~4k py4j calls ≈ 1.2 s of driver Python, a ~3k-node expression
    2-4 s of planning+codegen, PER ROUND (:func:`_assign_best_expr`
    instead parses one small HOF tree whose centroid matrix
    constant-folds to a single array literal); and an unmaterialized
    lazy chain re-executes rounds 1..i-1 inside round i's broadcast
    subplan (O(iters²) corpus passes at 100 TB).

    Block lifecycle: the quantized points are ``localCheckpoint``-ed once
    (every round and the final assignment read them); the FINAL
    assignment is checkpointed so multi-reference consumers (the pair
    self-join in :func:`semantic_dedup_pairs`) read materialized rows.
    Callers release via ``session.release_all_blocks`` /
    ``scoped_storage`` once consumed (at cluster scale: ``checkpoint``
    to reliable storage instead). Eager plan-time work is budgeted under
    ``EAGER_BUILD_OK``: 1 points checkpoint + (iters-1) fused
    assign+update collects + 1 final checkpoint.
    """
    from etl_cascalog_spark.io import ensure_min_parallelism
    from etl_cascalog_spark.session import checkpoint_round

    # parallelism guard BEFORE the checkpoint: a small single-file scan is
    # ONE partition, and the checkpoint freezes that layout — every round
    # scan, the final assignment, and (round 12's measured case) the
    # Σ|cluster|² candidate fold in semantic_dedup_pairs would then run
    # as a single task on an idle 32-core box (guide §2.6). No-op at real
    # scale (file-count heuristic), one tiny keyed shuffle locally.
    # The point prep is materialized ONCE: every round's assignment (and
    # the seed selection) reads these rows — uncached, each of the
    # `iters` rounds re-executed the corpus scan + unit conversion.
    points, pts_ids = checkpoint_round(ensure_min_parallelism(points, "id"))
    # seed: the k lowest-id points, cid = rank in id order (bounded
    # driver transfer: k rows of dim longs)
    seed = points.orderBy("id").limit(k).select("units").collect()
    centroids = [
        (i, [int(v) for v in r["units"]]) for i, r in enumerate(seed)
    ]
    # per-cluster count + dim sums as ONE parsed aggregate expression
    # (building it from 64 py4j F.sum calls measured ~0.5 s of driver
    # Python per round)
    agg_expr = F.expr(
        "named_struct('n', count(*), 's', array("
        + ", ".join(f"sum(units[{i}])" for i in range(dim))
        + "))"
    )
    for _ in range(iters - 1):
        # ONE job per round: map-side argmin assignment feeding the
        # per-cluster partial-aggregated sums; ≤ k rows collected. Empty
        # clusters simply vanish (K shrinks), matching the oracle.
        rows = (
            points.select(
                _assign_best_expr(centroids)["cid"].alias("cid"), "units"
            )
            .groupBy("cid")
            .agg(agg_expr.alias("st"))
            .collect()
        )
        # integer mean with the exact `sum div count` truncating
        # semantics of the oracle's centroid update
        centroids = sorted(
            (
                int(r["cid"]),
                [_trunc_div(int(s), int(r["st"]["n"])) for s in r["st"]["s"]],
            )
            for r in rows
        )
    best = _assign_best_expr(centroids)
    # the final assignment is materialized, so the points retire
    assigned, _ = checkpoint_round(
        points.select("id", "units", best.alias("__b"))
        # two-step select: CollapseProject refuses to inline the
        # non-cheap HOF into two field extractions, so `best` is
        # evaluated once per row
        .select(
            "id",
            "units",
            F.col("__b.cid").alias("cluster"),
            F.col("__b.dist").alias("dist"),
        ),
        retire=pts_ids,
    )
    return assigned


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 8,
    iters: int = 3,
    max_dist_units: int = 1_500_000_000_000,
    pair_blocks: int = 8,
) -> DataFrame:
    """SemDeDup: k-means partition, then exact near-dup pairs WITHIN each
    cluster (a < b, integer sq-dist ≤ threshold). The pair join is an
    equi-join on cluster id — candidate volume is Σ|cluster|², never N².

    ``pair_blocks`` (B) fixes the parallelism ceiling of that equi-join:
    with only k join keys, at most k tasks ever compute pair distances —
    measured at sf1 on local[32]: 117 s with the plain k=8 join, 28.7 s
    with B=8 (identical output hash). Each cluster is split into B
    hash sub-blocks and the join key becomes (cluster, lo, hi) over the
    B·(B+1)/2 unordered block pairs — the classic triangle partitioning
    of an all-pairs self-join: row with block s enters pairs (s, j≥s) on
    the left and (i≤s, s) on the right, so every cross-block pair
    materializes exactly once and same-block pairs are halved by the
    id order filter. Candidate volume is IDENTICAL; parallelism is
    k·B(B+1)/2 tasks. B=1 degrades to the plain cluster join.

    Output: (id_a, id_b, cluster, dist) sorted-pair convention —
    bit-identical for every B (distance is symmetric; ids normalized).
    """
    assigned = kmeans_fit(
        quantize_embeddings(df, id_col, vec_col), dim, k, iters
    )
    B = max(int(pair_blocks), 1)
    sb = F.pmod(F.xxhash64(F.col("id")), F.lit(B)).cast("int")
    blocked = assigned.select("cluster", "id", "units", sb.alias("__sb"))
    a = blocked.select(
        "cluster",
        F.col("__sb").alias("__lo"),
        F.explode(F.sequence(F.col("__sb"), F.lit(B - 1))).alias("__hi"),
        F.col("id").alias("id_a"),
        F.col("units").alias("ua"),
    )
    b = blocked.select(
        "cluster",
        F.explode(F.sequence(F.lit(0), F.col("__sb"))).alias("__lo"),
        F.col("__sb").alias("__hi"),
        F.col("id").alias("id_b"),
        F.col("units").alias("ub"),
    )
    same_block = F.col("__lo") == F.col("__hi")
    return (
        a.join(b, ["cluster", "__lo", "__hi"])
        # same-block: full self-cross, keep one orientation. Cross-block:
        # each unordered pair appears exactly once (possibly id_b < id_a) —
        # keep it and normalize the id order below.
        .where(~same_block | (F.col("id_a") < F.col("id_b")))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "cluster",
            _sq_dist(F.col("ua"), F.col("ub")).alias("dist"),
        )
        .where(F.col("dist") <= F.lit(max_dist_units))
    )


def kmeans_cluster_profile(
    df: DataFrame, id_col: str, vec_col: str, dim: int, k: int = 8, iters: int = 3
) -> DataFrame:
    """Per-cluster summary of the fitted partition: size, exact integer
    inertia (Σ dist), and the member id range — the diagnostic a curation
    pipeline reads before deciding per-cluster dedup thresholds."""
    assigned = kmeans_fit(
        quantize_embeddings(df, id_col, vec_col), dim, k, iters
    )
    return assigned.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_members"),
        F.sum("dist").cast("long").alias("inertia_units"),
        F.min("id").cast("long").alias("min_id"),
        F.max("id").cast("long").alias("max_id"),
    )
