"""Structural physical-plan lint: the invariants every catalog query must hold.

The per-query plan pins in the test suite (star join is 4×BHJ, spine join is
BNLJ-on-spine, …) protect individual queries; this module protects the
CATALOG — any future query automatically inherits three structural checks
on its *static* physical plan (AQE disabled: runtime re-planning can only
improve on the static plan, so linting the static plan is the conservative
side — a tiny test SF must not let AQE's broadcast-conversion mask a plan
that would SortMergeJoin at real scale):

R1 **No CartesianProduct, ever.** The engine's only all-pairs-shaped
   operators (date-spine attach, config broadcast) are BroadcastNestedLoop
   against a broadcast-sized side by construction; a CartesianProduct node
   means a join lost its keys and would be O(N·M) shuffle at 100 TB.

R2 **No unpartitioned Window over unbounded fact-scale input.** A window
   with an empty PARTITION BY forces every input row through ONE task
   (Exchange SinglePartition) — the classic silent scale-killer. Allowed
   only when the window's input is provably bounded: every leaf under it is
   a dimension-table scan (region/nation/supplier — ≤10k rows·sf), a
   literal/local scan, or the path is cut by a Limit-family node
   (limit-first top-k, e.g. bm25's limit-before-rank); anything else needs
   an entry in the caller's explicit allowlist naming WHY it is bounded
   (e.g. the input is a ≤25-row aggregate of a fact table — invisible to
   static attribution but bounded by group-key cardinality).

R3 **No SortMergeJoin whose build side is purely dimensional.** If one side
   of an SMJ reads only region/nation/supplier, that side fits in a
   broadcast at ANY scale factor (dimensions grow with sf, but these stay
   ≤10k·sf rows ≪ the 10 MB default threshold until sf≫100; the engine
   broadcast-hints them explicitly) — an SMJ there means a lost broadcast
   hint and a needless full shuffle of the fact side.

Reference parity note: the reference had no optimizer at all (SURVEY §4.1 —
every Cascalog job compiled to fixed MR stages); these invariants are the
engine-side guarantee that Catalyst keeps choosing the plans the port was
designed around.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from itertools import count

from pyspark.sql import DataFrame

#: tables that stay broadcast-small at every realistic scale factor
DIM_TABLES = frozenset({"region", "nation", "supplier"})

#: plan nodes that bound the row count of everything above them
_LIMIT_NODES = frozenset(
    {
        "GlobalLimitExec",
        "LocalLimitExec",
        "TakeOrderedAndProjectExec",
        "CollectLimitExec",
        # NOT WindowGroupLimitExec: rank-pushdown caps rows PER GROUP, so
        # its output is k × n_groups — fact-scale whenever the group key is
        # high-cardinality (user_id/doc_id). Treating it as a global bound
        # would let an unpartitioned window above a per-group top-k pass
        # silently — exactly the single-partition Exchange R2 exists to
        # catch. Genuinely bounded cases go through the caller allowlist.
    }
)

#: leaf nodes that are driver-literal / local and therefore tiny
_LOCAL_LEAVES = frozenset({"LocalTableScanExec", "RDDScanExec", "EmptyRelationExec"})

_WINDOW_NODES = frozenset({"WindowExec", "WindowInPandasExec"})

#: R4 threshold: an honest filter predicate renders in tens-to-hundreds of
#: chars; an inferred predicate that swallowed a computed-array
#: construction chain renders in thousands (decontamination_13gram's was
#: ~10 KB, evaluated twice per row in the scan stage). Length alone is not
#: enough — a rendered Bloom-bitmap literal is long but O(1) — so the rule
#: also requires a per-row higher-order function (``lambdafunction(``).
_MEGA_FILTER_CHARS = 4000

_PARQUET_TABLE = re.compile(r"(\w+)\.parquet")


def _children(node) -> list:
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def _cls(node) -> str:
    return node.getClass().getSimpleName()


@dataclass
class PlanReport:
    """Lint findings for one query plan."""

    cartesian: int = 0
    #: (scan-attribution, …) per unpartitioned window that is NOT
    #: provably bounded — empty means R2 holds structurally
    unbounded_global_windows: list[str] = field(default_factory=list)
    #: table-sets of SMJ sides that are purely dimensional
    dim_side_smj: list[str] = field(default_factory=list)
    #: plan fingerprint: node counts in the static tree (cached subtrees
    #: end at their InMemoryTableScan, ReusedExchange counts as reuse, so
    #: these are real-work counts, not plan-string reprints)
    n_shuffle_exchange: int = 0
    n_broadcast_exchange: int = 0
    n_sort_merge_join: int = 0
    n_broadcast_hash_join: int = 0
    n_bnl_join: int = 0
    #: R4: Filter nodes whose rendered condition is a mega-expression —
    #: the signature of Catalyst inferring a predicate from a Generate
    #: over an expensive computed array and pushing the WHOLE construction
    #: chain (duplicated: value + isnotnull twin) below the exchange that
    #: existed to parallelize it (the decontamination_13gram defect: a
    #: ~10 KB condition evaluating 12 nested zip_withs twice per row in a
    #: near-serial scan stage). Honest predicates render in tens-to-
    #: hundreds of chars.
    mega_filters: list[str] = field(default_factory=list)

    def ok(self) -> bool:
        return (
            self.cartesian == 0
            and not self.unbounded_global_windows
            and not self.dim_side_smj
            and not self.mega_filters
        )

    def fingerprint(self) -> dict[str, int]:
        """The shape counts pinned by ``PLAN_PINS.json`` — a regression
        ratchet: any future edit that adds a shuffle, loses a broadcast,
        or degrades a BHJ to SMJ changes this dict and fails the pin test
        until the new shape is reviewed and re-pinned."""
        return {
            "shuffle": self.n_shuffle_exchange,
            "broadcast": self.n_broadcast_exchange,
            "smj": self.n_sort_merge_join,
            "bhj": self.n_broadcast_hash_join,
            "bnlj": self.n_bnl_join,
        }


def _subtree_tables(node) -> tuple[set[str], bool, bool]:
    """(parquet tables scanned, saw_limit_cut_everything, saw_unknown_leaf)
    for the subtree under ``node``, NOT descending past limit nodes."""
    cls = _cls(node)
    if cls in _LIMIT_NODES:
        return set(), True, False
    if cls in _LOCAL_LEAVES:
        return set(), False, False
    kids = _children(node)
    if not kids:
        if cls == "FileSourceScanExec":
            m = _PARQUET_TABLE.search(node.toString())
            if m:
                return {m.group(1)}, False, False
            return set(), False, True
        if cls == "ReusedExchangeExec":
            # points at an exchange linted elsewhere in the same tree
            return set(), False, False
        # InMemoryTableScan, BatchScan (python datasource), jdbc relation …
        # — cannot attribute statically
        return set(), False, True
    tables: set[str] = set()
    unknown = False
    for k in kids:
        t, _, u = _subtree_tables(k)
        tables |= t
        unknown |= u
    return tables, False, unknown


def _window_is_bounded(node) -> tuple[bool, str]:
    """An unpartitioned window is structurally bounded iff every leaf under
    it is a dim scan / local scan, or is cut off by a limit node."""
    tables, _, unknown = _subtree_tables_no_root_limit(node)
    if unknown:
        return False, "unattributable input (cached/jdbc/python-source leaf)"
    bad = tables - DIM_TABLES
    if bad:
        return False, f"fact-scale tables under global window: {sorted(bad)}"
    return True, ""


def _subtree_tables_no_root_limit(node):
    # the window node itself is never a limit; just recurse children
    tables: set[str] = set()
    unknown = False
    for k in _children(node):
        t, _, u = _subtree_tables(k)
        tables |= t
        unknown |= u
    return tables, False, unknown


def lint_plan(df: DataFrame) -> PlanReport:
    """Walk the static physical plan of ``df`` and apply R1–R3.

    Caller must have AQE disabled on the session for the plan to be the
    static one (``spark.sql.adaptive.enabled=false``).
    """
    plan = df._jdf.queryExecution().executedPlan()  # noqa: SLF001
    rep = PlanReport()

    def walk(node):
        cls = _cls(node)
        if cls == "ShuffleExchangeExec":
            rep.n_shuffle_exchange += 1
        elif cls == "BroadcastExchangeExec":
            rep.n_broadcast_exchange += 1
        elif cls == "BroadcastHashJoinExec":
            rep.n_broadcast_hash_join += 1
        elif cls == "BroadcastNestedLoopJoinExec":
            rep.n_bnl_join += 1
        if cls == "SortMergeJoinExec":
            rep.n_sort_merge_join += 1
        if cls == "CartesianProductExec":
            rep.cartesian += 1
        elif cls in _WINDOW_NODES and node.partitionSpec().size() == 0:
            ok, why = _window_is_bounded(node)
            if not ok:
                rep.unbounded_global_windows.append(why)
        elif cls == "SortMergeJoinExec":
            for side in _children(node):
                tables, _, unknown = _subtree_tables(side)
                if tables and not unknown and tables <= DIM_TABLES:
                    rep.dim_side_smj.append(
                        f"SMJ side reads only {sorted(tables)} — should broadcast"
                    )
        if cls == "FilterExec":
            cond = node.condition().toString()
            # both gates: big literals (a rendered Bloom bitmap constant)
            # are long but O(1) to evaluate — the defect needs a
            # higher-order function (lambda) executed per row
            if len(cond) > _MEGA_FILTER_CHARS and "lambdafunction(" in cond:
                rep.mega_filters.append(
                    f"{len(cond)}-char Filter condition: {cond[:160]}…"
                )
        for k in _children(node):
            walk(k)

    walk(plan)
    return rep


# ---------------------------------------------------------------------------
# R5: zero Spark jobs at DataFrame-construction time
# ---------------------------------------------------------------------------

#: queries whose BUILD legitimately submits Spark jobs, as
#: ``name -> (max_jobs, contract)``. The contract states WHY jobs are
#: acceptable; ``max_jobs`` bounds HOW MANY (VERDICT r10 #2 — existence
#: alone let a whitelisted recurrence silently grow from 3 checkpoint jobs
#: to 300 under a green gate). Three categories only:
#:   (a) bounded driver-side collects that ARE the operator's contract
#:       (guard-fenced: byte budget / m_bits / 1-row watermark) —
#:       budget 1-4 jobs (AQE materializes a shuffled aggregate as its
#:       own map-stage job, so one logical collect can count as 2);
#:   (b) iterative fixpoint algorithms whose per-round eager
#:       ``localCheckpoint`` IS the algorithm (lineage must be cut between
#:       rounds or iteration i re-runs rounds 0..i-1) — budget =
#:       measured jobs at sf0.001 plus headroom for the extra O(log n)
#:       rounds larger SFs need (CC/star converges in log rounds; Lloyd
#:       and pagerank are iteration-capped);
#:   (c) file-source discovery (binaryFile listing) — budget 1-2.
#: Anything NOT listed here must submit ZERO jobs while its plan is built —
#: bench.py's audit pass and tests/test_plan_lint.py both enforce it (count
#: AND budget), so a new eager collect (the round-8/9 zorder-bounds /
#: blas-count defects) or a job-count blow-up fails loudly instead of
#: shipping.
EAGER_BUILD_OK: dict[str, tuple[int, str]] = {
    "ann_blas_topk": (
        6,
        "(a) cosine_topk_blas's byte-priced driver collect: one 1-row"
        " width/count aggregate (2 jobs under AQE) + the guarded collect,"
        " with the query projection cached across the pair (ADVICE r11 —"
        " one extra materialization job; 4 measured at sf0.1)",
    ),
    "bloom_prejoin_revenue": (
        4,
        "(a) bloom_build collects the finished bitmap (≤ m_bits/8 bytes,"
        " capped at 16 MB) to re-enter it as a probe literal",
    ),
    "config_broadcast_lookup": (
        2,
        "(a) plan-time config map collect (J5) — the reference's plan-time"
        " config binding, rows ≤ config-key count",
    ),
    "watermark_incremental_load": (
        3,
        "(a) I1 watermark: 1-row max(dt) collect decides the load range"
        " before the plan exists (trgx.clj next-dt)",
    ),
    "ods_merge_pipeline": (3, "(a) same 1-row dw_id watermark continuation"),
    "binaryfile_image_ingest": (
        2,
        "(c) binaryFile source file-discovery job",
    ),
    "pagerank_copurchase": (
        41,
        "(b) per-round eager localCheckpoint of the rank frame"
        " (graph.pagerank_int block-lifecycle contract; iteration-capped,"
        " fixpoint observed on the round checkpoint with no probe job —"
        " 25 jobs measured with AQE on at sf0.001 AND sf0.1, was 29)",
    ),
    "semantic_dedup_kmeans": (
        12,
        "(b) Lloyd recurrence: points checkpoint + seed take(k) +"
        " (iters-1) fused assign+update collects + final checkpoint"
        " (semantic.kmeans_fit round-12 shape; 8 measured at sf0.001,"
        " sf0.1)",
    ),
    "kmeans_cluster_profile": (12, "(b) same Lloyd recurrence (8 measured)"),
    "ivf_train_assignment_parity": (
        40,
        "(b) trained-centroid Lloyd rounds (28 measured at sf0.001)",
    ),
    "neardup_clusters": (
        47,
        "(b) connected-components star rounds checkpoint per iteration"
        " until fixpoint (one setup checkpoint, window-star rounds,"
        " convergence observed on the round checkpoint with no probe job —"
        " 27 measured with AQE on at sf0.001 AND sf0.1, 5 with AQE off,"
        " was 30/6; rounds grow O(log n))",
    ),
    "neardup_clusters_star": (47, "(b) same CC recurrence"),
    "neardup_keep_best": (47, "(b) same CC recurrence feeding keep-best"),
    "dedup_cluster_sizes": (
        47,
        "(b) same CC recurrence feeding size profile",
    ),
    "cluster_keyed_split_audit": (
        47,
        "(b) same CC recurrence feeding the leakage-safe split audit"
        " (19 measured at sf0.001, was 22)",
    ),
    "corpus_curation_pipeline": (
        52,
        "(b) composition embeds the CC recurrence (31 measured at"
        " sf0.001, was 34)",
    ),
    "training_data_pipeline": (
        52,
        "(b) composition embeds the CC recurrence (31 measured at"
        " sf0.001, was 34)",
    ),
}


#: monotone suffix so repeated builds of the same query in one
#: SparkContext never share a job-group name — getJobIdsForGroup is
#: cumulative for the context's lifetime, so a reused name would charge
#: run 2 with run 1's jobs and flag a lazy build as an R5 violation
_BUILD_GROUP_SEQ = count()


def count_build_jobs(spark, build, name: str):
    """Run ``build()`` under a dedicated job group and return
    ``(result, n_jobs)`` where ``n_jobs`` is the number of Spark jobs the
    construction submitted. Plan building must be lazy (R5): a job here
    means an eager count/collect/checkpoint snuck into a builder, which at
    100 TB is an extra full pass over the input before the query even runs.
    """
    sc = spark.sparkContext
    group = f"r5-build-{name}-{next(_BUILD_GROUP_SEQ)}"
    # save the caller's own job group so the gate never clobbers it —
    # resetting to "" would tag every later job in the process with group
    # "" and surprise other statusTracker consumers (ADVICE r10)
    prior_group = sc.getLocalProperty("spark.jobGroup.id")
    prior_desc = sc.getLocalProperty("spark.job.description")
    prior_interrupt = sc.getLocalProperty("spark.job.interruptOnCancel")
    sc.setJobGroup(group, "R5 zero-eager-jobs gate")
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prior_group)
        sc.setLocalProperty("spark.job.description", prior_desc)
        # setJobGroup also resets interruptOnCancel to "false" — restore
        # it too, or a caller's cancelJobGroup stops interrupting threads
        sc.setLocalProperty("spark.job.interruptOnCancel", prior_interrupt)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
