"""Catalog-wide structural plan lint (VERDICT r4 #1).

Every query in the catalog — and every FUTURE query anyone registers — must
hold three physical-plan invariants on its STATIC plan (AQE off, so a tiny
test SF cannot mask a shape that only AQE's runtime broadcast-conversion
would fix):

  R1  no CartesianProduct anywhere;
  R2  no unpartitioned Window over unbounded fact-scale input;
  R3  no SortMergeJoin whose one side reads only broadcast-small dims.

R2/R3 exceptions are named HERE with the reason the shape is bounded or
intended — an unexplained new violation fails the suite. This converts the
per-query plan pins (test_operators) into a catalog invariant.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from etl_cascalog_spark.catalog import QUERIES
from etl_cascalog_spark.plans.lint import lint_plan
from etl_cascalog_spark.session import release_all_blocks

SF = "/root/testdata/sf0.001"
PINS_PATH = Path(__file__).resolve().parent.parent / "PLAN_PINS.json"

#: queries allowed an unpartitioned Window whose boundedness static scan
#: attribution cannot see (each input is a small AGGREGATE of a fact scan,
#: or sits behind a cache boundary). Keyed by query name → why bounded.
GLOBAL_WINDOW_OK = {
    "drift_binned_ks": "window input is the ≤100-row bin aggregate "
    "(bin = least(floor(price/6000), 99) — hard cap in the binning expr)",
    "fs_linkage_scores": "window input is the 2^3-row agreement-pattern "
    "aggregate (three booleans group to ≤8 rows at any scale)",
    "fs_linkage_scores_fine": "same ≤8-row agreement-pattern aggregate "
    "(finer blocking changes the pair set, not the pattern collapse)",
    "id_gap_audit": "window input is one row per 65536-id bucket "
    "(65536× reduction; ~2M metadata rows even at 150B orders)",
    "order_interval_concurrency": "window input is one row per calendar "
    "day (bounded by the date domain, not the fact row count)",
    "sequence_packing_offsets": "bucket-list prefix window of the "
    "documented distributed prefix-sum (corpus/4096 rows; "
    "text.global_token_offsets step 3)",
    "training_data_pipeline": "same bucket-list prefix window via "
    "global_token_offsets inside the pipeline",
}

#: queries allowed a RUNTIME `WindowExec: No Partition Defined` warning that
#: the STATIC lint cannot attribute (the window sits behind a cache/
#: localCheckpoint boundary or inside an operator the static scan sees as
#: bounded). Same hygiene contract as GLOBAL_WINDOW_OK: entry = boundedness
#: argument. The runtime budget (tools/correctness_local.py) allows
#: GLOBAL_WINDOW_OK ∪ this set and fails every other emitter.
RUNTIME_GLOBAL_WINDOW_OK = {
    "bm25_lexical_topk": "limit-before-rank: TakeOrderedAndProject keeps "
    "k=10 rows, the global rank window runs over those 10 only "
    "(text.bm25_topk docstring — the house top-k rule)",
    "hybrid_search_rerank": "two limit-before-rank stages: lexical top-50 "
    "candidates, then final top-10 — both windows over ≤50 rows",
    "vocab_induction": "limit-before-rank over k=50 vocabulary rows "
    "(text.vocab_top_tokens)",
    "bpe_merge_candidates": "limit-before-rank over the top-20 pair rows",
    "key_skew_profile": "limit-before-rank over top_k=5 heavy-key rows "
    "(operators/profiling.py)",
    "surrogate_ids": "assign_dense_ids_scaled's offset-rebase window runs "
    "over ONE ROW PER RANGE PARTITION (surrogate.py:77), never data rows",
    "ods_merge_pipeline": "dw_id continuation: one window over the "
    "s_suppkey<=6 ODS stand-in rows, one over the new-keys side of a "
    "dim-sized merge (catalog ods_merge_pipeline; DIM_SMJ_OK twin note)",
    "window_rank_suite": "rank semantics DEMAND a total order; input is "
    "the supplier DIMENSION, documented size bound in the builder",
}

#: queries allowed a SortMergeJoin on a dim-only side — the dim table is a
#: STAND-IN for a production fact-scale input, so SMJ is the intended shape.
DIM_SMJ_OK = {
    "ods_merge_pipeline": "stg/ods full-outer merge: both sides are "
    "production fact-scale tables (supplier only stands in at test SF); "
    "a broadcast would be wrong at real scale",
}


@pytest.fixture(scope="module")
def lint_reports(spark):
    """One pass: build every catalog query with AQE off, lint, restore.
    The same pass counts Spark jobs submitted DURING each build (R5 —
    zero-eager-jobs gate), stashed on each report as ``build_jobs``."""
    from etl_cascalog_spark.io import TABLES, read_table
    from etl_cascalog_spark.plans.lint import count_build_jobs

    # warm the per-path schema cache BEFORE touching the AQE conf: the
    # one-time parquet footer job is a local-mode artifact (a production
    # catalog carries the schema) and must not be charged to whichever
    # query touches a table first — and a warm-up failure must not leak
    # AQE=false into the shared session
    for t in TABLES:
        read_table(spark, SF, t)
    prior = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    reports = {}
    try:
        for name in sorted(QUERIES):
            df, n_jobs = count_build_jobs(
                spark, lambda: QUERIES[name].build(spark, SF), name
            )
            reports[name] = lint_plan(df)
            reports[name].build_jobs = n_jobs
            release_all_blocks(spark)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prior)
    return reports


def test_no_cartesian_product_anywhere(lint_reports):
    bad = {n: r.cartesian for n, r in lint_reports.items() if r.cartesian}
    assert not bad, f"CartesianProduct in static plans: {bad}"


def test_no_unbounded_global_window(lint_reports):
    bad = {
        n: r.unbounded_global_windows
        for n, r in lint_reports.items()
        if r.unbounded_global_windows and n not in GLOBAL_WINDOW_OK
    }
    assert not bad, (
        "unpartitioned Window over unbounded input (add to GLOBAL_WINDOW_OK "
        f"ONLY with a boundedness argument): {bad}"
    )


def test_no_dim_side_sort_merge_join(lint_reports):
    bad = {
        n: r.dim_side_smj
        for n, r in lint_reports.items()
        if r.dim_side_smj and n not in DIM_SMJ_OK
    }
    assert not bad, (
        "SortMergeJoin with a broadcast-small dim side (add to DIM_SMJ_OK "
        f"ONLY when the dim stands in for a fact-scale input): {bad}"
    )


#: queries allowed a mega-expression lambda Filter, with the boundedness
#: argument (R4 exceptions — same hygiene rules as the other allowlists).
#: EMPTY since round 10: the last two entries (ann_ivf_topk /
#: ann_ivfpq_topk probe-side assignment inference) were fixed for real —
#: the cell-assignment fold now sits inside the broadcast guard's cached
#: projection, so Catalyst's inferred isnotnull(assignment) twin is cut at
#: the InMemoryRelation boundary instead of re-evaluating the fold.
MEGA_FILTER_OK: dict[str, str] = {}


def test_no_mega_expression_filters(lint_reports):
    """R4: no Filter node may carry a mega-expression lambda condition
    (> 4 KB rendered AND containing a per-row higher-order function). That
    shape is Catalyst inferring a predicate (`size(arr) > 0` from a
    non-outer Generate, isnotnull from a join key) over a computed array
    and pushing the ENTIRE construction chain — duplicated as value +
    isnotnull twin — below the exchange that existed to parallelize it
    (the decontamination_13gram defect: 12 nested zip_withs evaluated
    twice per row in a near-serial scan stage, found by
    tools/parallelism_lint.py). House rule: explode computed arrays with
    explode_outer + a cheap null filter."""
    bad = {
        n: r.mega_filters
        for n, r in lint_reports.items()
        if r.mega_filters and n not in MEGA_FILTER_OK
    }
    assert not bad, (
        f"mega-expression Filter conditions (inferred-Generate pushdown?): "
        f"{json.dumps(bad, indent=1)[:2000]}"
    )


def test_plan_fingerprints_match_pins(lint_reports):
    """Quantitative plan ratchet: every query's static-plan shape counts
    (shuffles, broadcasts, join-strategy mix) must equal the committed pin
    in ``PLAN_PINS.json``. A diff means an edit changed a physical plan —
    added a shuffle, lost a broadcast, degraded a BHJ to SMJ — or
    genuinely improved one. Review the new shape, then re-pin with
    ``python tools/plan_pin.py --write`` so the change is a recorded
    decision, never silent drift."""
    want = json.loads(PINS_PATH.read_text())
    got = {n: r.fingerprint() for n, r in lint_reports.items()}
    diffs = {
        n: {"pinned": want.get(n), "current": got.get(n)}
        for n in sorted(set(got) | set(want))
        if want.get(n) != got.get(n)
    }
    assert not diffs, (
        "plan fingerprints drifted from PLAN_PINS.json (review, then "
        f"`python tools/plan_pin.py --write`): {json.dumps(diffs, indent=1)}"
    )


def test_runtime_global_window_budget_artifact():
    """Runtime twin of R2 (VERDICT r6 #5): the committed sf0.01 sweep
    artifact carries per-query counts of actual `WindowExec: No Partition
    Defined` warnings (captured from the driver JVM's stderr between
    query markers — visible through cache boundaries the static lint
    cannot cross). Budget: a nonzero count is allowed ONLY for queries
    with a boundedness argument in GLOBAL_WINDOW_OK."""
    art = PINS_PATH.parent / "CORRECTNESS_local_sf0.01.json"
    data = json.loads(art.read_text())
    missing = [n for n, r in data.items() if "global_window_warnings" not in r]
    assert not missing, (
        f"artifact predates the runtime warning budget — rerun "
        f"tools/correctness_local.py: {missing[:5]}"
    )
    allowed = set(GLOBAL_WINDOW_OK) | set(RUNTIME_GLOBAL_WINDOW_OK)
    bad = {
        n: r["global_window_warnings"]
        for n, r in data.items()
        if r["global_window_warnings"] and n not in allowed
    }
    assert not bad, (
        "runtime global-window warnings outside the allowlists "
        f"(add ONLY with a boundedness argument): {bad}"
    )
    # hygiene: runtime-allowlist entries must name live queries that DID
    # warn in the artifact — a silent entry means the window was fixed
    for name, why in RUNTIME_GLOBAL_WINDOW_OK.items():
        assert name in QUERIES, f"RUNTIME_GLOBAL_WINDOW_OK unknown: {name}"
        if name in data:
            assert data[name]["global_window_warnings"] > 0, (
                f"{name} no longer warns at runtime — remove from "
                "RUNTIME_GLOBAL_WINDOW_OK"
            )


def test_allowlists_reference_live_flagged_queries(lint_reports):
    """Allowlist hygiene: every entry must name a query that exists AND
    still trips the lint — a stale entry means the shape was fixed and the
    exemption should go."""
    for name in GLOBAL_WINDOW_OK:
        assert name in QUERIES, f"GLOBAL_WINDOW_OK names unknown query {name}"
        assert lint_reports[name].unbounded_global_windows, (
            f"{name} no longer has a global window — remove from allowlist"
        )
    for name in DIM_SMJ_OK:
        assert name in QUERIES, f"DIM_SMJ_OK names unknown query {name}"
        assert lint_reports[name].dim_side_smj, (
            f"{name} no longer has a dim-side SMJ — remove from allowlist"
        )
    for name in MEGA_FILTER_OK:
        assert name in QUERIES, f"MEGA_FILTER_OK names unknown query {name}"
        assert lint_reports[name].mega_filters, (
            f"{name} no longer has a mega-expression filter — remove from "
            "allowlist"
        )


def test_zero_eager_jobs_at_build(lint_reports):
    """R5 (VERDICT r9 #3): building a catalog query's DataFrame must submit
    ZERO Spark jobs — an eager count/collect/checkpoint in a builder is an
    extra full pass over the input at 100 TB before the query even runs.
    Exceptions live in plans/lint.py EAGER_BUILD_OK, each with a
    ``(max_jobs, contract)`` pair: the contract (bounded guarded collect /
    iterative localCheckpoint recurrence / source discovery) makes the jobs
    legitimate and ``max_jobs`` bounds their MAGNITUDE (VERDICT r10 #2 —
    existence alone would let a 3-checkpoint recurrence grow to 300 jobs
    under a green gate); hygiene twin below keeps the whitelist from
    rotting into a loophole."""
    from etl_cascalog_spark.plans.lint import EAGER_BUILD_OK

    bad = {
        n: r.build_jobs
        for n, r in lint_reports.items()
        if r.build_jobs and n not in EAGER_BUILD_OK
    }
    assert not bad, (
        "Spark jobs submitted at plan-build time outside EAGER_BUILD_OK "
        f"(add ONLY with a boundedness/recurrence contract): {bad}"
    )
    # hygiene FIRST: whitelisted names must exist — checked before the
    # budget comprehension indexes lint_reports so a stale entry fails
    # with this diagnostic, not a raw KeyError
    for name in EAGER_BUILD_OK:
        assert name in QUERIES, f"EAGER_BUILD_OK names unknown query {name}"
    # magnitude: each whitelisted build must stay within its contracted
    # job budget
    over = {
        n: (lint_reports[n].build_jobs, budget)
        for n, (budget, _contract) in EAGER_BUILD_OK.items()
        if lint_reports[n].build_jobs > budget
    }
    assert not over, (
        "EAGER_BUILD_OK builds exceeded their max_jobs contract "
        f"(actual, budget): {over} — either the recurrence regressed or "
        "the budget needs a reviewed raise"
    )
    # hygiene: whitelisted builds must still be eager — an entry whose
    # build went lazy should be pruned, not kept as a loophole
    for name in EAGER_BUILD_OK:
        assert lint_reports[name].build_jobs > 0, (
            f"{name} no longer submits build jobs — remove from "
            "EAGER_BUILD_OK"
        )
