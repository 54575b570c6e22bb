"""Graph operators over relational edge lists.

Beyond-reference surface: the reference's only graph-shaped computation is
tree assembly (``trgx``); a curation pipeline additionally needs
*importance* and *connectivity* over item graphs (e.g. co-purchase /
co-citation webs) for sampling weights. Connected components already lives
in ``operators/dedup.py``; this module adds PageRank.

Determinism contract: ranks are 64-bit integer micro-units end-to-end —
``contribution = rank div out_degree`` (integer division), damping applied
as ``(15·base + 85·Σcontrib) div 100``. Integer sums are order-independent,
so the result hash-matches a relational oracle exactly, something a
float PageRank fundamentally cannot promise across partitionings.

100 TB shape: one shuffle per iteration (groupBy dst over the edge list,
map-side combinable longs), degrees computed once and carried ON the edge
row (no per-iteration degree join); the iteration count is CAPPED
(unrollable into the oracle, bounded wall time) and stops early at the
exact integer fixpoint. Hub skew is the usual PageRank skew —
partial aggregation absorbs it (contributions combine before the shuffle).
"""

from __future__ import annotations

from itertools import count as _itercount

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: total rank mass, in micro-units (10¹² ≪ 2⁶³ even summed over a node's
#: whole in-neighborhood)
RANK_SCALE = 1_000_000_000_000

#: per-build suffix for the convergence ``Observation`` names (a name is
#: registered once per session)
_PR_OBS_SEQ = _itercount()


def pagerank_int(
    edges: DataFrame,
    iters: int = 3,
    damping_pct: int = 85,
    stats: dict | None = None,
) -> DataFrame:
    """Integer PageRank over a directed edge list (src, dst).

    Every node appearing as src or dst participates. Dangling nodes (no
    out-edges) keep their base share only — their mass is dropped, not
    redistributed, which keeps the recurrence local (no global dangling-sum
    reduction per iteration) and is the standard "weak" PageRank variant;
    on symmetrized graphs (both directions present) there are no dangling
    nodes and the variants coincide.

    Returns (node, rank_units) with Σ initial units = N · (RANK_SCALE div N).

    Block lifecycle: the edge fan-out (quadratic pair generation +
    distinct) is the expensive input — it is ``localCheckpoint``-ed ONCE
    and every iteration joins against the materialized rows; without
    this, iteration i's DAG re-runs the fan-out i times. Per-round rank
    frames go through ``session.checkpoint_round`` (the
    ``connected_components`` discipline); the returned frame's
    checkpoint stays alive for the caller to release.

    ``iters`` is a cap, not a spend. The recurrence is exact integer
    arithmetic, so once a round's ranks equal its input bit-for-bit
    every further round is the identity, and stopping there gives the
    same result as running out ``iters``. That test rides on the round's
    checkpoint job: each node's self row carries its input rank as
    ``prev``, and an ``Observation`` counts the nodes whose new rank
    differs from it; a count of 0 ends the loop. No probe job is run. The
    setup checkpoint counts the edges, and an empty edge set runs no
    round (an ``Observation`` over an empty AQE stage never reports).
    ``stats`` (optional caller-owned dict) receives ``rounds_run``.
    """
    from pyspark.sql import Observation, Window

    from etl_cascalog_spark.session import checkpoint_round, unpersist_rdd_ids

    run_tag = next(_PR_OBS_SEQ)
    n_edges = Observation(f"pr_edges_{run_tag}")
    # degree rides on the edge row via ONE window over the src-shuffled
    # edges (round 12; was groupBy-agg + join back). The agg+join form
    # evaluates the upstream edge fan-out TWICE (once into the aggregate,
    # once into the join probe — ReusedExchange doesn't cover the
    # pre-shuffle fan-out), and at real scale the join is an SMJ that
    # shuffles the edge list anyway (degrees has one row per node —
    # corpus-proportional, never broadcastable). The window shuffles the
    # edge list by src exactly once; src cardinality = |V|, so there is
    # no low-cardinality funnel. Measured 0.71× at sf0.1, results
    # bit-identical (integer arithmetic untouched).
    contrib_edges, static_ids = checkpoint_round(
        edges.withColumn(
            "out_deg", F.count("*").over(Window.partitionBy("src"))
        )
        .select("src", "dst", "out_deg")
        .observe(n_edges, F.count("*").alias("n"))
    )
    # both endpoints in one pass over the checkpointed edges (round 13;
    # the union form scanned the blocks twice)
    nodes = (
        contrib_edges.select(
            F.explode(F.array(F.col("src"), F.col("dst"))).alias("node")
        )
        .distinct()
    )

    # per-node base share WITHOUT a plan-build .count(): the node total is
    # an aggregate broadcast-cross-joined onto every node row, so the whole
    # build stays one job submission (at 100 TB the old eager count was an
    # extra full pass over the edge list before the first iteration). The
    # base rides as a column on the (checkpointed) rank frame — same exact
    # integer arithmetic, identical results.
    n_df = nodes.agg(F.count("*").alias("__n"))
    ranks, rank_ids = checkpoint_round(
        nodes.crossJoin(F.broadcast(n_df))
        .select(
            "node",
            F.expr(f"{RANK_SCALE}L div greatest(__n, 1L)").alias("base"),
        )
        .withColumn("rank_units", F.col("base"))
    )

    rounds_run = 0
    for round_i in range(iters if n_edges.get["n"] else 0):
        rounds_run += 1
        changed = Observation(f"pr_changed_{run_tag}_{round_i}")
        # per-edge contributions; the per-node in-sum AND the damping
        # update fuse into ONE groupBy over contributions ∪ self rows
        # (round 13; was groupBy(in_sum) + left join back onto ranks —
        # the join re-sorted/re-exchanged the rank side every round).
        # The self row carries (base, prev = input rank, c=0); message
        # rows carry nulls there. max(base) and max(prev) recover the
        # per-node constants, sum(c) is exactly the old
        # coalesce(in_sum, 0) — nodes with no in-edges sum their lone 0.
        # Same exact integer arithmetic, one exchange per round.
        msgs = contrib_edges.join(
            ranks, contrib_edges["src"] == ranks["node"]
        ).select(
            F.col("dst").alias("node"),
            F.lit(None).cast("long").alias("base"),
            F.lit(None).cast("long").alias("prev"),
            F.expr("rank_units div out_deg").alias("c"),
        )
        ranks, rank_ids = checkpoint_round(
            ranks.select(
                "node",
                "base",
                F.col("rank_units").alias("prev"),
                F.lit(0).cast("long").alias("c"),
            )
            .unionByName(msgs)
            .groupBy("node")
            .agg(
                F.max("base").alias("base"),
                F.max("prev").alias("prev"),
                F.sum("c").alias("in_sum"),
            )
            .select(
                "node",
                "base",
                "prev",
                F.expr(
                    f"({100 - damping_pct} * base"
                    f" + {damping_pct} * in_sum) div 100"
                ).cast("long").alias("rank_units"),
            )
            .observe(
                changed,
                F.count(F.when(F.col("rank_units") != F.col("prev"), 1)).alias(
                    "n"
                ),
            )
            .select("node", "base", "rank_units"),
            retire=rank_ids,
        )
        if changed.get["n"] == 0:
            break  # exact integer fixpoint: further rounds are identity
    if stats is not None:
        stats["rounds_run"] = rounds_run
    unpersist_rdd_ids(edges.sparkSession, static_ids)  # result lineage truncated: safe
    return ranks.select("node", "rank_units")


def copurchase_edges(
    lineitem: DataFrame,
    max_order_items: int = 7,
) -> DataFrame:
    """Symmetric part-part co-purchase edges from the order basket.

    Baskets larger than ``max_order_items`` are dropped BEFORE the pair
    fan-out (the quadratic guard — identical discipline to ``max_bucket``
    in the LSH joins: at 100 TB one degenerate mega-order must not emit
    |basket|² rows). Edges are distinct (src, dst) pairs, both directions.
    """
    from pyspark.sql import Window

    baskets = (
        lineitem.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        )
        .distinct()
    )
    # basket size rides on the row via one count-window over the
    # ok-shuffled baskets (round 13; was groupBy-agg + join back = two
    # extra exchanges — the pagerank out-degree lesson), and the pair
    # self-join below reuses that same ok-partitioning, so the cap costs
    # ZERO additional shuffles beyond the distinct
    bounded = (
        baskets.withColumn(
            "__n", F.count("*").over(Window.partitionBy("ok"))
        )
        .where(F.col("__n") <= max_order_items)
        .select("ok", "pk")
    )
    a = bounded.select("ok", F.col("pk").alias("src"))
    b = bounded.select("ok", F.col("pk").alias("dst"))
    return (
        a.join(b, "ok")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def khop_min_dist(edges: DataFrame, seeds: DataFrame, k: int = 3) -> DataFrame:
    """Bounded-depth BFS: minimum hop distance (0..k) from a seed set over
    directed ``(src, dst)`` edges — the multi-hop traversal primitive
    (feature circles, blast-radius, related-items-of-related-items).

    ``k`` is a small plan-time constant, so instead of an iterative loop
    this UNROLLS into ``k`` chained equi-joins — a single declarative plan
    Catalyst sees whole (no localCheckpoint bookkeeping, no driver-side
    convergence probe; contrast :func:`connected_components`, whose depth
    is data-dependent). Each frontier is ``distinct`` node ids, so hop
    ``i``'s join input is ≤ |V| rows no matter how many paths exist —
    path-count explosion is collapsed before every join, which is what
    makes depth-k traversal safe on a 100 TB co-occurrence graph.

    Returns ``(node, min_hops)`` for every node within ``k`` hops
    (seeds themselves at 0).
    """
    node_col = seeds.columns[0]
    frontier = (
        seeds.select(F.col(node_col).alias("node")).distinct().withColumn("d", F.lit(0))
    )
    reached = frontier
    for hop in range(1, k + 1):
        frontier = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .withColumn("d", F.lit(hop))
        )
        reached = reached.unionByName(frontier)
    return reached.groupBy("node").agg(F.min("d").cast("int").alias("min_hops"))
