"""The report pipeline's spec types and builders, and ALL 38 reference
report jobs as declarative specs.

Every ``src/cocacola/rpt/`` job (SURVEY.md Appendix A) is one pipeline run
with different parameters. Each entry re-states one job as a prepare()
(the job's filters + column normalization, cited) plus a spec of one of
four shapes, each with one builder:

- :class:`ReferenceReport` / :func:`build_sliding` — the sliding
  period-comparison shape (scan → pivot → spine → calendar lags → nested
  payload JSON);
- :class:`StaticReference` / :func:`build_static` — full-refresh snapshot
  shape (no sliding, raw metrics nested under payload dims, dw_dt pinned);
- :class:`ButtonReference`  — the button family (one sliding pass fanned
  into per-button metric subsets, unioned into one sink — the reference
  ran three ``?-`` appends; here one explode, no re-execution);
- :class:`TrgxReference`    — the config-skeleton family (kv->trgx attach
  onto ``conf.trgx_cocacola``, then whole-tree / leaf-node / path-node
  payloads).

All four end in one ``ms.report`` sink projection (:func:`_sink`). No
builder reads a job's name: the name (or the spec's ``label``) is only
the emitted ``report`` value. The catalog's demo reports
(``report_pipeline``, ``static_report``) build through the same specs and
builders with ``project="tpch"``.

Running one::

    df = build_reference_report(spark, "score_channel", score_df,
                                spine=("2017-01-01", "2017-03-31"))
    # trgx jobs additionally take the config skeleton:
    df = build_reference_report(spark, "score_period", score_df, spine,
                                skeleton=conf_tree)

The source DataFrame must follow the FIXTURES.md schema for the job's tap.
Column convention: prepare() emits ALREADY-normalized columns — selector /
payload dims carry the value the reference ships (usually the ``*_sort``
display keys), so the specs read uniformly.

Scale: one shuffle for the pivot (on selector+payload dims), a broadcast
spine join, one grouped pass per payload level for the nested JSON. The
reference ran each report as its own serial Hadoop job
(cascalog.sh:37-119); here reports are lazy DataFrames — schedule N of
them concurrently and Spark shares the scans.

``REPORTS`` lists every Appendix-A job key (38). The seven bolome/hadoop
jobs are warehouse pipelines, not report specs — they live in
``incremental.py`` / ``operators/surrogate.py`` / ``plans/trgx.py``
(SURVEY §2.8 I1-I5).
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_cascalog_spark.operators.filters import regex_guard, require_non_null
from etl_cascalog_spark.operators.periods import with_period_comparisons
from etl_cascalog_spark.plans.report import json_object, metric_leaf
from etl_cascalog_spark.plans.trgx import (
    attach_kv,
    branch_subtree,
    code_item_col,
    conf_json,
    json_key,
    merge_branches,
    metrics_json,
    nest_json,
    nest_trgx_json,
    node_id_col,
    skeleton_df,
    skeleton_paths,
)

#: the 7 score metrics with the reference's JSON keys → period-comparison
#: columns (tr-dimension-metrics call, m_cocacola_score_channel.clj:82)
SCORE_METRICS = {
    "score": "value",
    "pp_score": "pp_value",
    "vs_pp_score": "pp_delta",
    "last_dec_score": "last_dec_value",
    "vs_last_dec_score": "last_dec_delta",
    "last_year_same_month_score": "yoy_value",
    "vs_last_year_same_month_score": "yoy_delta",
}

#: 7 metrics + trailing abbr sort key (m_cocacola_skus.clj:67)
SCORE_METRICS_ABBR = {**SCORE_METRICS, "abbr": "abbr"}

#: leading bg label + 7 metrics — the *_period_trend payload
#: (m_cocacola_availability_period_trend.clj:68)
TREND_METRICS = {"bg": "bg", **SCORE_METRICS}

#: bottler exclusion regexes — the F6 guard used by every score report
#: (m_cocacola_score_overall.clj:68-70 / _channel.clj:77-79)
BOTTLER_EXCLUDES = (r"\S*区域$", r"\S*辽宁$", r"Tier\d")

TOTAL_CHANNEL = "Total / 所有渠道"

#: the merged-skeleton root (trgx.clj:203-210) and the kpi-level labels the
#: path reports drop (m_cocacola_score_period.clj:74-79)
TRGX_ROOT = "全体-Total / 所有渠道"
KPI_EXCLUDE = (
    "全体-HMKT / 大卖场",
    "全体-SMKT / 超市",
    "全体-GT / 传统食杂",
    "全体-E&D M/H / 中高档餐饮",
    "全体-E&D Trad / 传统餐饮",
)

#: the trgx attach metrics (m_cocacola_score_period.clj:66-67)
TRGX_VALUE_METRICS = {
    "value": "value",
    "max_value": "max_value",
    "pp_value": "pp_value",
    "last_dec_value": "last_dec_value",
    "last_year_same_month_score": "yoy_value",
}


def kpi_from_item(item: Column) -> Column:
    """First '-'-segment of item; '产品铺货率' normalizes to '产品铺货'
    (m_cocacola_score_overall.clj:64-65)."""
    kpi = F.element_at(F.split(item, "-"), 1)
    return F.when(kpi == "产品铺货率", F.lit("产品铺货")).otherwise(kpi)


def _drop_bottler_rollups(df: DataFrame, *extra: str) -> DataFrame:
    # the F6 guard idiom: bottler → NULL on any exclusion match, then the
    # implicit ?var NOT NULL drops the row (F4)
    guarded = df.withColumn(
        "bottler", regex_guard(F.col("bottler"), *BOTTLER_EXCLUDES, *extra)
    )
    return require_non_null(guarded, "bottler")


def _not_tier_market(df: DataFrame) -> DataFrame:
    """``(not (re-find #"^China Tier\\d" ?market))`` — the §3/§4 family
    guard (m_cocacola_sovi_brand.clj:72 etc.)."""
    return df.where(regex_guard(F.col("market"), r"^China Tier\d").isNotNull())


# ---------------------------------------------------------------------------
# Sliding-shape prepare()s
# ---------------------------------------------------------------------------


def _prep_score_overall(df: DataFrame) -> DataFrame:
    """m_cocacola_score_overall.clj:60-74: code IS NULL, kpi=全体,
    channel=Total, bottler exclusions."""
    return _drop_bottler_rollups(
        df.where(F.col("code").isNull())
        .where(kpi_from_item(F.col("item")) == "全体")
        .where(F.col("channel") == TOTAL_CHANNEL)
    )


def _prep_score_channel(df: DataFrame) -> DataFrame:
    """m_cocacola_score_channel.clj:69-83: kpi=全体, channel≠Total."""
    return _drop_bottler_rollups(
        df.where(F.col("code").isNull())
        .where(kpi_from_item(F.col("item")) == "全体")
        .where(F.col("channel") != TOTAL_CHANNEL)
    )


def _prep_score_channel_bg(df: DataFrame) -> DataFrame:
    """m_cocacola_score_channel_bg.clj:63-69: kpi=全体 only — bottler
    exclusions but NO channel filter; bottler joins the payload."""
    return _drop_bottler_rollups(
        df.where(F.col("code").isNull()).where(
            kpi_from_item(F.col("item")) == "全体"
        )
    ).withColumn("bottler_key", F.col("bottler_sort"))


def _prep_score_kpi(df: DataFrame) -> DataFrame:
    """m_cocacola_score_kpi.clj:58-73: channel=Total, kpi≠全体; kpi becomes
    a payload dimension."""
    out = (
        df.where(F.col("code").isNull())
        .where(F.col("channel") == TOTAL_CHANNEL)
        .withColumn("kpi", kpi_from_item(F.col("item")))
        .where(F.col("kpi") != "全体")
    )
    return _drop_bottler_rollups(out)


def _prep_score_kpi_bg(df: DataFrame) -> DataFrame:
    """m_cocacola_score_kpi_bg.clj:63-69: channel=Total (kpi=全体 KEPT);
    bottler joins the payload."""
    return _drop_bottler_rollups(
        df.where(F.col("code").isNull())
        .where(F.col("channel") == TOTAL_CHANNEL)
        .withColumn("kpi", kpi_from_item(F.col("item")))
    ).withColumn("bottler_key", F.col("bottler_sort"))


def _sku_norm(df: DataFrame) -> DataFrame:
    """The sku tap reads ?value from the ``product`` column position
    (m_cocacola_skus.clj:45, FIXTURES §2); a frame already carrying a
    ``value`` column is passed through."""
    if "product" in df.columns:
        df = df.withColumn("value", F.col("product").cast("double"))
    if "abbrevation" in df.columns:
        df = df.withColumn("abbr", F.col("abbrevation"))
    return df


def _prep_skus(df: DataFrame) -> DataFrame:
    """m_cocacola_skus.clj:62-78: no filters; abbr = bottler sort key."""
    return _sku_norm(df)


def _prep_sku6_bg(df: DataFrame) -> DataFrame:
    """m_cocacola_sku6_bg.clj:60-69: bottler=Total, sku_type='6 SKU'."""
    return (
        _sku_norm(df)
        .where(F.col("bottler") == "Total")
        .where(F.col("sku_type") == "6 SKU")
    )


def _prep_sku6_bottler(df: DataFrame) -> DataFrame:
    """m_cocacola_sku6_bottler.clj:64-65: bottler≠Total, sku_type='6 SKU'."""
    return (
        _sku_norm(df)
        .where(F.col("bottler") != "Total")
        .where(F.col("sku_type") == "6 SKU")
    )


def _prep_sovi_brand(df: DataFrame) -> DataFrame:
    """m_cocacola_sovi_brand.clj:42-91: the synthetic Others row per group,
    then market/brand exclusions — IN THE REFERENCE'S ORDER. The
    collect-kv at :45-46 groups by every var including ?market, and the
    ``(- 100 (reduce + …))`` runs over the whole per-market brand map
    (TOTAL included, if present); only afterwards (:72,:75) does the report
    drop Tier markets and the TOTAL brand. So Others is per-market and its
    sum INCLUDES a TOTAL row's value — strict parity with the job, even
    though that double-count is arguably a reference bug (filtering first
    would give Others = 100 − Σ real brands). Here: grouped remainder
    union (map-side + one grouped pass, no pivot round-trip), filters
    last."""
    dims = ["dw_dt", "bg", "bottler", "channel", "market", "juice_type", "sovi_type"]
    others = (
        df.groupBy(*[F.col(c) for c in dims])
        .agg((F.lit(100.0) - F.sum("value")).alias("value"))
        .withColumn("brand", F.lit("Others"))
    )
    unioned = df.select(*dims, "brand", "value").unionByName(
        others.select(*dims, "brand", "value")
    )
    return (
        unioned.where(regex_guard(F.col("market"), r"Tier\d").isNotNull())
        .where(F.col("brand") != "TOTAL")
    )


def _prep_availability_brand(df: DataFrame) -> DataFrame:
    """m_cocacola_availability_brand.clj:60-66: market not China-Tier; brand
    + order ride in the leaf as extra metrics."""
    return _not_tier_market(df).withColumn("order", F.col("orders").cast("double"))


def _prep_availability_rural(df: DataFrame) -> DataFrame:
    """m_cocacola_availability_rural.clj:62-78: bgs/bottlers taps, item is
    the product payload level."""
    return df.withColumnRenamed("bgs", "bg").withColumnRenamed(
        "bottlers", "bottler"
    ).withColumnRenamed("item", "product")


def _prep_trend(kpi: str, brand: str | None = None):
    """Shared *_period_trend prep: market not China-Tier (+ brand pin); the
    ``kpi_const`` selector is the literal kpi label the job pins
    (m_cocacola_availability_period_trend.clj:67)."""

    def prep(df: DataFrame) -> DataFrame:
        out = _not_tier_market(df)
        if brand is not None:
            out = out.where(F.col("brand") == brand)
        return out.withColumn("kpi_const", F.lit(kpi))

    return prep


def _prep_cooler_brand(df: DataFrame) -> DataFrame:
    """m_cocacola_cooler_brand.clj:60-66."""
    return _not_tier_market(df)


def _prep_activation_sub_brand(df: DataFrame) -> DataFrame:
    """m_cocacola_activation_sub_brand.clj:68-69: + brand≠KB."""
    return _not_tier_market(df).where(F.col("brand") != "KB")


def _prep_sovi_period_trend6(df: DataFrame) -> DataFrame:
    """m_cocacola_sovi_period_trend6.clj:74-76: sovi_type=Total."""
    return _not_tier_market(df).where(F.col("sovi_type") == "Total")


# ---------------------------------------------------------------------------
# Spec kinds
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class ReferenceReport:
    """One sliding-shape job: prepare() + the declarative spec skeleton
    (scan → pivot → spine → calendar lags → nested payload JSON)."""

    prepare: Callable[[DataFrame], DataFrame]
    selector_dims: Sequence[str]
    payload_dims: Sequence[str]
    source: str
    cite: str
    category: str = "score"
    label: str | None = None
    project: str = "cocacola"
    #: leaf metrics: {json_key: comparison column}, or a sequence of
    #: comparison columns keyed by their own names
    metrics: Mapping[str, str] | Sequence[str] = field(
        default_factory=lambda: SCORE_METRICS
    )
    string_metrics: Sequence[str] = ()
    carry_dims: Sequence[str] = ()  # extra grouping dims feeding string metrics
    snapshot_dt: str | None = None  # FR jobs that pin the report row key


@dataclass(frozen=True)
class StaticReference:
    """Full-refresh snapshot job (no sliding): raw metric columns nested
    under payload dims, dw_dt pinned to :data:`SNAPSHOT_DT` — the
    achievement_rate / anal_rep_kpis / core_sku family
    (m_cocacola_score_achievement_rate.clj:43-49)."""

    prepare: Callable[[DataFrame], DataFrame]
    selector_dims: Sequence[str]
    payload_dims: Sequence[str]
    metrics: Mapping[str, str] | Sequence[str]
    source: str
    cite: str
    category: str = "score"
    label: str | None = None
    project: str = "cocacola"
    string_metrics: Sequence[str] = ()
    raw_json_metrics: Sequence[str] = ()


@dataclass(frozen=True)
class ButtonReference:
    """Button-family job: N sliding variants (one per comparison button)
    unioned into one sink (m_cocacola_score_top_bottom5_ranking.clj:81-148,
    three ?- appends). Engine shape: ONE comparison pass, per-variant leaf
    JSON fanned out with a map-side explode — no re-execution per branch
    (see catalog.report_ranking_buttons' 72→8 Exchange measurement)."""

    prepare: Callable[[DataFrame], DataFrame]
    payload_dims: Sequence[str]
    variants: Mapping[str, Mapping[str, str]]
    source: str
    cite: str
    selector_dims: Sequence[str] = ("period", "button")
    string_metrics: Sequence[str] = ("abbr",)
    carry_dims: Sequence[str] = ()
    category: str = "score"
    label: str | None = None
    project: str = "cocacola"
    snapshot_dt: str | None = None


@dataclass(frozen=True)
class TrgxReference:
    """Config-skeleton job: sliding (or raw-period) node metrics grafted
    onto conf.trgx_cocacola via kv->trgx, emitted as whole tree /
    leaf nodes / path nodes. ``payload_dims`` name the node-frame columns
    the payload nests on."""

    kind: str  # "tree" | "leaf_nodes" | "path_nodes"
    skeleton_mode: str  # "merge" (latest-trgx-merge) | "kpi" (latest-trgx-kpi)
    selector_dims: Sequence[str]
    source: str
    cite: str
    payload_dims: Sequence[str] = ()
    metrics: Mapping[str, str] = field(default_factory=dict)
    string_metrics: Sequence[str] = ()
    required: Sequence[str] = ("c_total_score", "c_weight", "value")
    sliding: bool = True
    wrap_key: str | None = None  # opportunity: {"trgx-data": tree}
    category: str = "score"
    label: str | None = None
    project: str = "cocacola"
    snapshot_dt: str | None = None


# ---------------------------------------------------------------------------
# Builders
# ---------------------------------------------------------------------------

#: compare dims of the score-tap trgx jobs (the collect-kv group vars,
#: m_cocacola_score_period.clj:45-48)
_TRGX_DIMS = (
    "bg",
    "bottler",
    "channel",
    "code",
    "item",
    "fact",
    "bottler_sort",
    "bg_sort",
    "channel_sort",
)


#: the row key of full-refresh snapshot reports (``(identity "9999-12-31"
#: :> ?dw-dt)``, m_cocacola_score_achievement_rate.clj:43)
SNAPSHOT_DT = "9999-12-31"


def _with_period(compared: DataFrame) -> DataFrame:
    return compared.withColumn("period", F.col("dw_dt").cast("string"))


def _sink(frame, spec, report, dw_dt, selector, selector_desc) -> DataFrame:
    """The generic ``ms.report`` row (m_cocacola_score_overall.clj:40):
    dw_dt, project, category, report, selector JSON (``selector`` maps
    each key to its column), selector_desc, dimension_metrics (the
    frame's ``tree_json``)."""
    return frame.select(
        dw_dt.cast("date").alias("dw_dt"),
        F.lit(spec.project).alias("project"),
        F.lit(spec.category).alias("category"),
        F.lit(report).alias("report"),
        json_object(selector).alias("selector"),
        selector_desc.alias("selector_desc"),
        F.col("tree_json").alias("dimension_metrics"),
    )


def _dims_sink(frame, spec, report, dw_dt) -> DataFrame:
    """Sliding/static sink: the selector is the selector dims' own columns,
    selector_desc their '-'-join."""
    cols = [F.col(d) for d in spec.selector_dims]
    return _sink(
        frame, spec, report, dw_dt,
        dict(zip(spec.selector_dims, cols)), F.concat_ws("-", *cols),
    )


def build_sliding(
    spark: SparkSession,
    spec: ReferenceReport,
    report: str,
    source_df: DataFrame,
    spine: tuple[str, str],
) -> DataFrame:
    """The sliding report pipeline: prepare → (dims, dw_dt, value) → pivot
    → month spine → calendar lags → null-safe deltas → nested payload JSON
    → sink rows named ``report``. ``prepare`` must emit ``dw_dt``, ``value``
    and every selector / payload / carry dim."""
    dims = [
        d
        for d in dict.fromkeys(
            [*spec.selector_dims, *spec.payload_dims, *spec.carry_dims]
        )
        if d != "period"
    ]
    prepared = spec.prepare(source_df).select(
        *dims, F.col("dw_dt").cast("date").alias("dw_dt"), "value"
    )
    compared = _with_period(
        with_period_comparisons(spark, prepared, dims, "dw_dt", "value", *spine)
    )
    snapshot = spec.snapshot_dt is not None
    group_cols = ([] if snapshot else ["dw_dt"]) + list(spec.selector_dims)
    leaf = metric_leaf(spec.metrics, spec.string_metrics)
    if spec.payload_dims:
        nested = nest_json(compared, group_cols, list(spec.payload_dims), leaf)
    else:
        nested = compared.withColumn("tree_json", leaf).select(
            *group_cols, "tree_json"
        )
    dw = F.lit(spec.snapshot_dt) if snapshot else F.col("dw_dt")
    return _dims_sink(nested, spec, report, dw)


def build_static(spec: StaticReference, report: str, source_df: DataFrame) -> DataFrame:
    """The static (no-sliding) report: nested payload JSON per selector
    group, one row per selector combination at :data:`SNAPSHOT_DT`. One
    grouped pass per payload level — no pivot, no spine."""
    leaf = metric_leaf(spec.metrics, spec.string_metrics, spec.raw_json_metrics)
    nested = nest_json(
        spec.prepare(source_df), list(spec.selector_dims), list(spec.payload_dims), leaf
    )
    return _dims_sink(nested, spec, report, F.lit(SNAPSHOT_DT))


def _build_button(spark, spec: ButtonReference, report, df, spine) -> DataFrame:
    prepared = spec.prepare(df).withColumn("dw_dt", F.col("dw_dt").cast("date"))
    plain_sel = [d for d in spec.selector_dims if d not in ("period", "button")]
    plain_payload = [d for d in spec.payload_dims if d != "period"]
    dims = list(dict.fromkeys([*plain_sel, *plain_payload, *spec.carry_dims]))
    compared = _with_period(
        with_period_comparisons(spark, prepared, dims, "dw_dt", "value", *spine)
    )
    fan = F.array(
        *[
            F.struct(
                F.lit(button).alias("button"),
                metric_leaf(metrics, spec.string_metrics).alias("leaf"),
            )
            for button, metrics in spec.variants.items()
        ]
    )
    rows = compared.select(
        "dw_dt", "period", *dims, F.explode(fan).alias("__v")
    ).select("dw_dt", "period", *dims, "__v.button", "__v.leaf")
    snapshot = spec.snapshot_dt is not None
    group_cols = ([] if snapshot else ["dw_dt"]) + plain_sel + ["button"]
    level_cols = list(spec.payload_dims)
    nested = nest_json(rows, group_cols, level_cols, F.col("leaf"))
    if not snapshot:
        nested = _with_period(nested)
    sel_cols = {d: F.col(d) for d in spec.selector_dims}
    dw = F.lit(spec.snapshot_dt) if snapshot else F.col("dw_dt")
    return _sink(nested, spec, report, dw, sel_cols, F.lit(""))


def _trgx_skeleton_frame(spark, spec: TrgxReference, skeleton: dict):
    if spec.skeleton_mode == "merge":
        skel = merge_branches(skeleton, TRGX_ROOT)
    else:
        skel = branch_subtree(skeleton, TRGX_ROOT)
    return skel, skeleton_df(spark, skel)


def _trgx_compared(spark, df, spine) -> DataFrame:
    compared = with_period_comparisons(
        spark, df.withColumn("dw_dt", F.col("dw_dt").cast("date")),
        list(_TRGX_DIMS), "dw_dt", "value", *spine,
    )
    # max over the group's whole dw-dt map (m_cocacola_score_period.clj:49)
    w = Window.partitionBy(*[F.col(d) for d in _TRGX_DIMS])
    compared = compared.withColumn("max_value", F.max("value").over(w))
    return _with_period(compared).withColumn(
        "__id", node_id_col(code_item_col(F.col("code"), F.col("item")))
    )


#: trgx selector key → node-frame column
_TRGX_SELECTOR = {
    "channel": "path_channel",
    "kpi": "path_kpi",
    "metrics": "path_metrics",
    "bottler": "bottler_sort",
    "bg": "bg_sort",
    "period": "period",
}


def _trgx_sink(frame, spec: TrgxReference, report) -> DataFrame:
    dw = F.lit(spec.snapshot_dt) if spec.snapshot_dt else F.col("dw_dt")
    sel = {d: F.col(_TRGX_SELECTOR[d]) for d in spec.selector_dims}
    return _sink(frame, spec, report, dw, sel, F.lit(""))


def _build_trgx(
    spark, spec: TrgxReference, report, df, spine, skeleton, precomputed=None
) -> DataFrame:
    skel, sdf = _trgx_skeleton_frame(spark, spec, skeleton)
    max_depth = max(len(p) for p, _ in skeleton_paths(skel))
    conf = lambda k: F.element_at(F.col("conf"), k)  # noqa: E731

    if spec.kind == "tree":
        if spec.sliding:
            compared = (
                precomputed
                if precomputed is not None
                else _trgx_compared(spark, df, spine)
            )
            group = ["dw_dt", *("bg", "bottler", "bg_sort", "bottler_sort")]
            node_metrics = metrics_json(
                {
                    k: F.col(v).cast("decimal(18,2)")
                    for k, v in TRGX_VALUE_METRICS.items()
                }
            )
            data = compared.select(
                *group, F.col("__id").alias("node_key"), node_metrics.alias("__m")
            )
        else:
            # details (m_cocacola_score_details.clj:34-53): raw per-period
            # value map per node, no sliding
            base = _with_period(df.withColumn(
                "__id", node_id_col(code_item_col(F.col("code"), F.col("item")))
            ))
            group = ["bg", "bottler", "bg_sort", "bottler_sort"]
            leaf = metrics_json({"value": F.col("value").cast("decimal(18,2)")})
            folded = nest_json(
                base, [*group, "__id"], ["period"], leaf
            ).withColumnRenamed("__id", "node_key")
            data = folded.select(
                *group,
                "node_key",
                F.concat(F.lit('{"period_value":'), F.col("tree_json"), F.lit("}")).alias(
                    "__m"
                ),
            )
        # complete per-group attach: every config node appears in the tree,
        # matched or not (kv->trgx keeps data-less nodes)
        attached = attach_kv(
            data.withColumnRenamed("node_key", "nid"), sdf, "nid", group_cols=group
        )
        cj = conf_json(F.col("conf"), F.col("conf_str"))
        data_json = F.concat(
            F.lit("{"),
            cj,
            F.when(
                F.col("__m").isNotNull() & (cj != ""), F.lit(",")
            ).otherwise(F.lit("")),
            F.coalesce(
                F.regexp_replace(F.regexp_replace(F.col("__m"), r"^\{", ""), r"\}$", ""),
                F.lit(""),
            ),
            F.lit("}"),
        )
        rows = attached.select(*group, "path", data_json.alias("data_json"))
        tree = nest_trgx_json(rows, group, max_depth)
        if spec.wrap_key:
            tree = tree.withColumn(
                "tree_json",
                F.concat(F.lit("{" + json_key(spec.wrap_key)), F.col("tree_json"), F.lit("}")),
            )
        if spec.sliding:
            tree = _with_period(tree)
        return _trgx_sink(tree, spec, report)

    compared = (
        precomputed if precomputed is not None else _trgx_compared(spark, df, spine)
    )
    attached = attach_kv(compared, sdf, "__id")

    if spec.kind == "leaf_nodes":
        # trgx-leaf-trunc 1 → (channel=level-1 label, metrics=leaf label)
        # (m_cocacola_score_channel_metrics_opportunity.clj:64-83)
        nodes = attached.where(F.col("is_leaf"))
        nodes = nodes.withColumn("node_channel", F.element_at(F.col("path"), 1))
        nodes = nodes.withColumn("metrics", F.element_at(F.col("path"), -1))
        nodes = (
            nodes.withColumn("c_total_score", conf("c_total_score"))
            .withColumn("c_weight", conf("c_weight"))
            .withColumn("abbreviation", F.element_at(F.col("conf_str"), "abbreviation"))
        )
        for r in spec.required:
            nodes = nodes.where(F.col(r).isNotNull())
        leaf = metric_leaf(spec.metrics, spec.string_metrics)
        nested = nest_json(
            nodes,
            ["dw_dt", "period", "bg_sort", "bottler_sort"],
            list(spec.payload_dims),
            leaf,
        )
        return _trgx_sink(nested, spec, report)

    # path_nodes: trgx-take-last 3 → trgx-split-at 4 → pad 4 "TOTAL"
    # (m_cocacola_score_period.clj:70-79)
    p = F.col("path")
    relabeled = F.when(
        F.size(p) > 4, F.concat(F.slice(p, 1, 3), F.array(F.element_at(p, -1)))
    ).otherwise(p)
    padded = F.concat(
        relabeled,
        F.array_repeat(F.lit("TOTAL"), F.lit(4) - F.size(relabeled)),
    )
    nodes = (
        attached.withColumn("__p4", padded)
        .withColumn("path_channel", F.element_at(F.col("__p4"), 2))
        .withColumn("path_kpi_raw", F.element_at(F.col("__p4"), 3))
        .withColumn("path_metrics", F.element_at(F.col("__p4"), 4))
        .where(F.col("path_channel") != "TOTAL")
        .where(~F.col("path_kpi_raw").isin(list(KPI_EXCLUDE)))
        .withColumn(
            "path_kpi",
            F.when(
                F.col("path_channel") == TRGX_ROOT,
                F.element_at(F.split(F.col("path_kpi_raw"), "-"), 1),
            ).otherwise(F.col("path_kpi_raw")),
        )
        .withColumn("c_total_score", conf("c_total_score"))
        .withColumn("c_weight", conf("c_weight"))
        .withColumn("abbr", F.col("bottler_sort"))
        .withColumn("year", F.substring(F.col("period"), 1, 4))
    )
    for r in spec.required:
        nodes = nodes.where(F.col(r).isNotNull())
    leaf = metric_leaf(spec.metrics, spec.string_metrics)
    snapshot = spec.snapshot_dt is not None
    group_cols = ([] if snapshot else ["dw_dt", "period"]) + [
        "path_channel",
        "path_kpi",
        "path_metrics",
    ]
    extra_groups = []
    if "bottler" in spec.selector_dims:
        extra_groups.append("bottler_sort")
    if "bg" in spec.selector_dims:
        extra_groups.append("bg_sort")
    nested = nest_json(
        nodes, group_cols + extra_groups, list(spec.payload_dims), leaf
    )
    return _trgx_sink(nested, spec, report)


# ---------------------------------------------------------------------------
# The 38-job table (SURVEY.md Appendix A, one entry per rpt job; the
# ×-variant jobs — achievement_rate bg-all, core_sku bg/bottler-all,
# activation_period_trend sub — are explicit variant entries of their base
# builder, matching the reference's second/third unioned query)
# ---------------------------------------------------------------------------

REPORTS: dict[str, object] = {
    # --- sliding score family -------------------------------------------
    "score_overall": ReferenceReport(
        _prep_score_overall, ["bg", "bottler"], [],
        "model.d_cocacola_score", "m_cocacola_score_overall.clj:60-74",
    ),
    "score_channel": ReferenceReport(
        _prep_score_channel, ["bg", "bottler"], ["channel"],
        "model.d_cocacola_score", "m_cocacola_score_channel.clj:69-83",
    ),
    "score_channel_bg": ReferenceReport(
        _prep_score_channel_bg, ["bottler_key"], ["channel", "bottler_key"],
        "model.d_cocacola_score", "m_cocacola_score_channel_bg.clj:63-72",
        label="channel_bg",
    ),
    "score_kpi": ReferenceReport(
        _prep_score_kpi, ["bg", "bottler"], ["kpi"],
        "model.d_cocacola_score", "m_cocacola_score_kpi.clj:58-73",
    ),
    "score_kpi_bg": ReferenceReport(
        _prep_score_kpi_bg, ["bottler_key"], ["kpi", "bottler_key"],
        "model.d_cocacola_score", "m_cocacola_score_kpi_bg.clj:63-72",
        label="kpi_bg",
    ),
    # --- sku family ------------------------------------------------------
    "skus": ReferenceReport(
        _prep_skus, ["bg", "bottler", "channel"], ["sku_type"],
        "model.d_cocacola_sku", "m_cocacola_skus.clj:62-78",
        metrics=SCORE_METRICS_ABBR, string_metrics=("abbr",), carry_dims=("abbr",),
    ),
    "sku6_bg": ReferenceReport(
        _prep_sku6_bg, ["channel"], ["bg"],
        "model.d_cocacola_sku", "m_cocacola_sku6_bg.clj:60-69",
    ),
    "sku6_bottler": ReferenceReport(
        _prep_sku6_bottler, ["channel"], ["bg", "bottler"],
        "model.d_cocacola_sku", "m_cocacola_sku6_bottler.clj:60-70",
        metrics=SCORE_METRICS_ABBR, string_metrics=("abbr",), carry_dims=("abbr",),
    ),
    "sku6_period_bg": ButtonReference(
        lambda df: _prep_sku6_bg(df).withColumn("channel", F.col("channel_sort")),
        ["period", "bg"],
        {"test": SCORE_METRICS_ABBR},
        "model.d_cocacola_sku", "m_cocacola_sku6_period_bg.clj:62-69",
        selector_dims=("channel", "button"), carry_dims=("abbr",),
        snapshot_dt=SNAPSHOT_DT,
    ),
    # --- availability ----------------------------------------------------
    "availability_brand": ReferenceReport(
        _prep_availability_brand, ["bg", "bottler", "channel"], ["sku", "sku_detail"],
        "model.d_cocacola_sku_mapping", "m_cocacola_availability_brand.clj:60-66",
        metrics={**SCORE_METRICS, "brand": "brand", "order": "order"},
        string_metrics=("brand",), carry_dims=("brand", "order"),
    ),
    "availability_period_trend": ReferenceReport(
        _prep_trend("AVAILABILITY"), ["channel", "kpi_const", "sku_type", "bottler"],
        ["bottler", "period"],
        "model.d_cocacola_sku_mapping", "m_cocacola_availability_period_trend.clj:62-68",
        metrics=TREND_METRICS, string_metrics=("bg",), carry_dims=("bg",),
        snapshot_dt=SNAPSHOT_DT,
    ),
    "availability_rural": ReferenceReport(
        _prep_availability_rural, ["bg", "bottler"], ["product_group", "product", "channel"],
        "model.d_cocacola_availability_rural", "m_cocacola_availability_rural.clj:62-78",
        label="Availability_Rural",
    ),
    # --- sovi ------------------------------------------------------------
    "sovi_brand": ReferenceReport(
        _prep_sovi_brand, ["bg", "bottler", "channel"],
        ["brand", "juice_type", "sovi_type"],
        "model.d_cocacola_sovi", "m_cocacola_sovi_brand.clj:42-91",
        category="sovi",
    ),
    "sovi_period_trend": ReferenceReport(
        _prep_trend("SOVI", "KO"), ["channel", "kpi_const", "juice_sovi_type", "bottler"],
        ["bottler", "period"],
        "model.d_cocacola_sovi", "m_cocacola_sovi_period_trend.clj:70-77",
        metrics=TREND_METRICS, string_metrics=("bg",), carry_dims=("bg",),
        snapshot_dt=SNAPSHOT_DT,
    ),
    "sovi_period_trend6": ReferenceReport(
        _prep_sovi_period_trend6, ["bg", "bottler", "channel"],
        ["period", "brand", "juice_type", "sovi_type"],
        "model.d_cocacola_sovi", "m_cocacola_sovi_period_trend6.clj:71-96",
        snapshot_dt=SNAPSHOT_DT,
    ),
    # --- cooler ----------------------------------------------------------
    "cooler_brand": ReferenceReport(
        _prep_cooler_brand, ["bg", "bottler", "channel"], ["cooler_type", "brand"],
        "model.d_cocacola_cooler", "m_cocacola_cooler_brand.clj:60-66",
    ),
    "cooler_period_trend": ReferenceReport(
        _prep_trend("COOLER", "KO"), ["channel", "kpi_const", "cooler_type", "bottler"],
        ["bottler", "period"],
        "model.d_cocacola_cooler", "m_cocacola_cooler_period_trend.clj:63-69",
        metrics=TREND_METRICS, string_metrics=("bg",), carry_dims=("bg",),
        snapshot_dt=SNAPSHOT_DT,
    ),
    # --- activation ------------------------------------------------------
    "activation_brand": ReferenceReport(
        _prep_cooler_brand, ["bg", "bottler", "channel"], ["activation_type", "brand"],
        "model.d_cocacola_activation_summary", "m_cocacola_activation_brand.clj:63-68",
    ),
    "activation_sub_brand": ReferenceReport(
        _prep_activation_sub_brand, ["bg", "bottler", "channel"],
        ["activation_type", "activation_type_sub", "brand"],
        "model.d_cocacola_activation_detail", "m_cocacola_activation_sub_brand.clj:66-72",
        label="activation_brand_sub",
    ),
    "activation_period_trend": ReferenceReport(
        _prep_trend("ACTIVATION", "KO"), ["channel", "kpi_const", "activation_type", "bottler"],
        ["bottler", "period"],
        "model.d_cocacola_activation_summary", "m_cocacola_activation_period_trend.clj:79-87",
        metrics=TREND_METRICS, string_metrics=("bg",), carry_dims=("bg",),
        snapshot_dt=SNAPSHOT_DT,
    ),
    "activation_period_trend_sub": ReferenceReport(
        _prep_trend("ACTIVATION", "KO"), ["channel", "kpi_const", "activation_type", "bottler"],
        ["bottler", "period"],
        "model.d_cocacola_activation_detail", "m_cocacola_activation_period_trend.clj:91-120",
        label="activation_period_trend",
        metrics=TREND_METRICS, string_metrics=("bg",), carry_dims=("bg",),
        snapshot_dt=SNAPSHOT_DT,
    ),
    # --- buttons ---------------------------------------------------------
    "score_top_bottom5_ranking": None,  # filled below (needs _prep_top_bottom5)
    "score_gt_rural": None,
    "score_gt_rural_bg": None,
    "score_gt_rural_period_bg": None,
    # --- static FR -------------------------------------------------------
    "score_tier": None,
    "score_by_bg": None,
    "score_achievement_rate": None,
    "score_achievement_rate_bg_all": None,
    "core_sku": None,
    "anal_rep_kpis": None,
    "gt_score_deep_dive": None,
    "gt_score_deep_dive_with_ko": None,
    "gt_score_deep_dive_without_ko": None,
    # --- trgx ------------------------------------------------------------
    "score_period": None,
    "score_period_months": None,
    "score_bottler_ranking": None,
    "score_opportunity": None,
    "score_channel_metrics_opportunity": None,
    "score_details": None,
}


# --- button preps / specs --------------------------------------------------


def _prep_top_bottom5(df: DataFrame) -> DataFrame:
    """m_cocacola_score_top_bottom5_ranking.clj:85-96: code IS NULL, the
    five bottler exclusion regexes, and the channel/kpi consistency rule —
    (channel=Total ∧ kpi=全体) ∨ (channel≠Total ∧ kpi≠全体). Payload keys
    are the SORT columns (:channel ?channel_sort, :kpi ?kpi_sort), abbr is
    the bottler sort key (:108)."""
    out = df.where(F.col("code").isNull()).withColumn(
        "kpi", kpi_from_item(F.col("item"))
    )
    out = _drop_bottler_rollups(out, r"\S*全体$", r"\S*全国总体$")
    is_total = F.col("channel").rlike("Total / 所有渠道")
    is_all = F.col("kpi").rlike("^全体$")
    out = out.where((is_total & is_all) | (~is_total & ~is_all))
    return (
        out.withColumn("channel_key", F.col("channel_sort"))
        .withColumn("kpi_key", F.col("kpi_sort"))
        .withColumn("abbr", F.col("bottler_sort"))
    )


_TB5 = {
    "vs Last Month": {
        "score": "value", "pp_score": "pp_value", "vs_pp_score": "pp_delta",
        "abbr": "abbr",
    },
    "vs Last Dec.": {
        "score": "value", "last_dec_score": "last_dec_value",
        "vs_last_dec_score": "last_dec_delta", "abbr": "abbr",
    },
    "vs Last Year": {
        "score": "value", "last_year_same_month_score": "yoy_value",
        "vs_last_year_same_month_score": "yoy_delta", "abbr": "abbr",
    },
}

REPORTS["score_top_bottom5_ranking"] = ButtonReference(
    _prep_top_bottom5, ["bottler", "channel_key", "kpi_key"], _TB5,
    "model.d_cocacola_score", "m_cocacola_score_top_bottom5_ranking.clj:81-148",
    carry_dims=("abbr",), label="top_bottom5_ranking",
)


def _prep_gt_rural(df: DataFrame) -> DataFrame:
    """m_cocacola_score_gt_rural.clj:64-65: bottler NOT a 全体/全国总体
    rollup; abbr rides the leaf."""
    out = df.withColumn(
        "bottler", regex_guard(F.col("bottler"), r"\S*全体$", r"\S*全国总体$")
    )
    return require_non_null(out, "bottler").withColumn("abbr", F.col("abbrevation"))


def _prep_gt_rural_bg(df: DataFrame) -> DataFrame:
    """m_cocacola_score_gt_rural_bg.clj:65: bottler IS a rollup."""
    return df.where(F.col("bottler").rlike(r"\S*全体$|\S*全国总体$"))


_GT_RURAL_METRICS = {"abbr": "abbr", **SCORE_METRICS}

REPORTS["score_gt_rural"] = ButtonReference(
    _prep_gt_rural, ["bg", "bottler"], {"test": _GT_RURAL_METRICS},
    "model.d_cocacola_score_rural", "m_cocacola_score_gt_rural.clj:60-78",
    carry_dims=("abbr",), label="GT_Rural",
)
REPORTS["score_gt_rural_bg"] = ButtonReference(
    _prep_gt_rural_bg, ["bg"], {"test": SCORE_METRICS},
    "model.d_cocacola_score_rural", "m_cocacola_score_gt_rural_bg.clj:62-68",
    string_metrics=(), label="GT_Rural_Bg",
)
REPORTS["score_gt_rural_period_bg"] = ButtonReference(
    _prep_gt_rural_bg, ["period", "bg"], {"test": SCORE_METRICS},
    "model.d_cocacola_score_rural", "m_cocacola_score_gt_rural_period_bg.clj:62-69",
    selector_dims=("channel", "button"), string_metrics=(),
    label="GT_Rural_period_bg", snapshot_dt=SNAPSHOT_DT,
)


# --- static preps / specs --------------------------------------------------


def _static_period_prep(extra):
    """Shared static prep: dw_dt → period string + per-job extras."""

    def prep(df: DataFrame) -> DataFrame:
        out = _with_period(df)
        return extra(out) if extra else out

    return prep


REPORTS["score_tier"] = StaticReference(
    _static_period_prep(lambda d: d.where(F.col("code").isNull())),
    ["channel_sort", "kpi_sort"], ["bg_sort", "bottler_sort", "period"],
    {"score": "value"},
    "model.d_cocacola_score_tier", "m_cocacola_score_tier.clj:34-57",
    label="by_bottler_tier",
)
REPORTS["score_by_bg"] = StaticReference(
    _static_period_prep(lambda d: d.where(F.col("code").isNull())),
    ["channel_sort", "kpi_sort"], ["bg_sort", "bottler_sort", "period"],
    {"score": "value"},
    "model.d_cocacola_score", "m_cocacola_score_by_bg.clj:34-57",
    label="report_by_bg",
)


def _prep_achievement(bg_all: bool):
    def prep(df: DataFrame) -> DataFrame:
        out = df
        if bg_all:
            out = out.where(F.col("bottler").isin(["SBL", "CBL", "BIG", "Zhuhai"]))
            out = out.withColumn("bg", F.lit("0.2_BGs"))
        return out

    return prep


for _key, _bg_all in (("score_achievement_rate", False), ("score_achievement_rate_bg_all", True)):
    REPORTS[_key] = StaticReference(
        _prep_achievement(_bg_all),
        ["bg", "channel", "kpi"], ["bottler", "period"],
        {"c_total_score": "c_total_score", "c_weight": "c_weight", "value": "value"},
        "model.d_cocacola_achievement_rate", "m_cocacola_score_achievement_rate.clj:43-83",
        label="achievement_rate",
    )

#: the core_sku bg-all bottler literals (m_cocacola_core_sku.clj:35-41)
CORE_SKU_BG_ALL = (
    "China Total / 全国总体", "SBL Total / 全体", "CBL Total / 全体",
    "BIG Total / 全体", "Zhuhai Total / 全体",
)

def _prep_core_sku(variant: str | None):
    """m_cocacola_core_sku.clj:44-96: base query plus the bg-all (bg-all?
    bottler set filter, bg rebadged "0.2_BGs") and bottler-all (no filter,
    bg "0.1_Total") variants — the reference appended all three to the same
    sink report name."""

    def prep(df: DataFrame) -> DataFrame:
        out = _with_period(df)
        if variant == "bg_all":
            out = out.where(F.col("bottler").isin(list(CORE_SKU_BG_ALL)))
            out = out.withColumn("bg_sort", F.lit("0.2_BGs"))
        elif variant == "bottler_all":
            out = out.withColumn("bg_sort", F.lit("0.1_Total"))
        return out

    return prep


for _key, _variant in (
    ("core_sku", None),
    ("core_sku_bg_all", "bg_all"),
    ("core_sku_bottler_all", "bottler_all"),
):
    REPORTS[_key] = StaticReference(
        _prep_core_sku(_variant),
        ["channel_sort", "product", "bg_sort", "kpi_type"], ["bottler_sort", "period"],
        {"value": "value"},
        "model.d_cocacola_core_sku", "m_cocacola_core_sku.clj:44-96",
        label="core_sku",
    )


def _prep_anal_rep_kpis(df: DataFrame) -> DataFrame:
    """m_cocacola_anal_rep_kpis.clj:37-48: fold the per-period value map
    FIRST (tr-dimension-metrics [:period] [:value] at :41), then ship it as
    a raw-JSON leaf metric next to c_sort/level."""
    base = _with_period(df)
    dims = [
        "bg_sort", "bottler_sort", "channel_sort", "kpi", "kpi_details", "item",
        "product", "xorder", "level",
    ]
    leaf = metrics_json({"value": F.col("value").cast("decimal(18,2)")})
    folded = nest_json(base, dims, ["period"], leaf)
    return folded.withColumnRenamed("tree_json", "period_value")


REPORTS["anal_rep_kpis"] = StaticReference(
    _prep_anal_rep_kpis,
    ["bg_sort", "bottler_sort", "channel_sort", "kpi", "kpi_details", "item"],
    ["product"],
    {"c_sort": "xorder", "level": "level", "period_value": "period_value"},
    "model.d_cocacola_anal_rep_kpis", "m_cocacola_anal_rep_kpis.clj:37-65",
    string_metrics=("level",), raw_json_metrics=("period_value",),
)


def _prep_deep_dive(df: DataFrame) -> DataFrame:
    """m_cocacola_gt_score_deep_dive.clj:41-47: item + its JSON attrs
    (p_item/item_weight/item_order/total_score) form the payload level-1
    key; value nests per period under it."""
    item_json = json_object(
        {
            "item": F.col("item"),
            "p_item": F.col("p_item"),
            "item_weight": F.col("item_weight"),
            "item_order": F.col("item_order"),
            "total_score": F.col("total_score"),
        }
    )
    return _with_period(df).withColumn(
        "item_key", item_json
    )


for _key, _src in (
    ("gt_score_deep_dive", "model.d_cocacola_gt_score_deep_dive"),
    ("gt_score_deep_dive_with_ko", "model.d_cocacola_gt_score_deep_dive_with_ko"),
    ("gt_score_deep_dive_without_ko", "model.d_cocacola_gt_score_deep_dive_without_ko"),
):
    REPORTS[_key] = StaticReference(
        _prep_deep_dive,
        ["bg_sort", "bottler_sort"], ["item_key", "period"],
        {"value": "value"},
        _src, "m_cocacola_gt_score_deep_dive.clj:41-60",
    )

# --- trgx specs ------------------------------------------------------------

_TRGX_7 = {
    "c_total_score": "c_total_score", "c_weight": "c_weight",
    **TRGX_VALUE_METRICS,
}

REPORTS["score_period"] = TrgxReference(
    "path_nodes", "merge",
    ["channel", "kpi", "metrics", "bottler"],
    "model.d_cocacola_score", "m_cocacola_score_period.clj:59-101",
    payload_dims=["bottler_sort", "period"],
    metrics=_TRGX_7,
    required=("c_total_score", "c_weight", "value", "max_value"),
    label="period", snapshot_dt=SNAPSHOT_DT,
)
REPORTS["score_period_months"] = TrgxReference(
    "path_nodes", "merge",
    ["bg", "bottler", "channel", "kpi", "metrics"],
    "model.d_cocacola_score", "m_cocacola_score_period_months.clj:70-117",
    payload_dims=["year", "period"],
    metrics=_TRGX_7,
    required=("c_total_score", "c_weight", "value", "max_value"),
    label="period_months", snapshot_dt=SNAPSHOT_DT,
)
REPORTS["score_bottler_ranking"] = TrgxReference(
    "path_nodes", "merge",
    ["period", "channel", "kpi", "metrics"],
    "model.d_cocacola_score", "m_cocacola_score_bottler_ranking.clj:62-92",
    payload_dims=["bg_sort", "bottler"],
    metrics={
        "c_total_score": "c_total_score", "c_weight": "c_weight",
        "value": "value", "pp_value": "pp_value", "last_dec_value": "last_dec_value",
        "abbr": "abbr",
    },
    string_metrics=("abbr",),
    label="bottler_ranking",
)
REPORTS["score_opportunity"] = TrgxReference(
    "tree", "kpi",
    ["period", "bg", "bottler"],
    "model.d_cocacola_score", "m_cocacola_score_opportunity.clj:62-77",
    wrap_key="trgx-data", label="opportunity",
)
REPORTS["score_channel_metrics_opportunity"] = TrgxReference(
    "leaf_nodes", "kpi",
    ["period", "bg", "bottler"],
    "model.d_cocacola_score", "m_cocacola_score_channel_metrics_opportunity.clj:64-83",
    payload_dims=["metrics"],
    metrics={
        "channel": "node_channel", "c_total_score": "c_total_score",
        "c_weight": "c_weight", "abbreviation": "abbreviation",
        "value": "value", "pp_value": "pp_value", "last_dec_value": "last_dec_value",
    },
    string_metrics=("channel", "abbreviation"),
    label="channel_metrics_opportunity",
)
REPORTS["score_details"] = TrgxReference(
    "tree", "kpi",
    ["bg", "bottler"],
    "model.d_cocacola_score", "m_cocacola_score_details.clj:34-67",
    sliding=False, label="details", snapshot_dt=SNAPSHOT_DT,
)


# ---------------------------------------------------------------------------
# Dispatcher
# ---------------------------------------------------------------------------


def build_reference_report(
    spark: SparkSession,
    name: str,
    source_df: DataFrame,
    spine: tuple[str, str] | None = None,
    skeleton: dict | None = None,
    compared: DataFrame | None = None,
) -> DataFrame:
    """Run registry report ``name`` over a FIXTURES-schema source frame.
    Sliding/button/trgx jobs need ``spine``; trgx jobs need the config
    ``skeleton`` (the reference fetched it from conf.trgx_cocacola at plan
    time, trgx.clj:198-201). ``compared`` (trgx jobs only) supplies a
    precomputed comparison frame — the shared-pivot fusion path
    of :func:`build_trgx_reports_shared`."""
    spec = REPORTS[name]
    report = spec.label or name
    if isinstance(spec, ReferenceReport):
        return build_sliding(spark, spec, report, source_df, spine)
    if isinstance(spec, StaticReference):
        return build_static(spec, report, source_df)
    if isinstance(spec, ButtonReference):
        return _build_button(spark, spec, report, source_df, spine)
    if skeleton is None:
        raise ValueError(f"report {name!r} needs the config skeleton")
    return _build_trgx(spark, spec, report, source_df, spine, skeleton, compared)


def build_trgx_reports_shared(
    spark: SparkSession,
    source_df: DataFrame,
    names: Sequence[str],
    spine: tuple[str, str],
    skeleton: dict,
) -> dict[str, DataFrame]:
    """Build several sliding trgx reports off ONE shared comparison frame.

    The comparison pass is the same for EVERY sliding trgx report
    (identical dims/date/value/spine — ``_TRGX_DIMS`` is fixed by the score
    tap's collect-kv group, m_cocacola_score_period.clj:45-48), so it runs
    once, is ``.cache()``'d, and feeds N reports via
    ``build_reference_report(..., compared=...)`` — the repeated-pivot
    fusion SURVEY §4.2/§7 deferred. The reference ran each report as its
    own Hadoop job, so the pivot ran once PER JOB over the full source
    (cascalog.sh:37-119); fused, the scan + 4-way join + pivot + spine-lag
    window run once per FAMILY. Wrap the consuming evaluation in
    ``session.scoped_storage`` so the blocks die with the job (the
    engine-wide storage lifecycle convention)."""
    shared = _trgx_compared(spark, source_df, spine).cache()
    return {
        n: build_reference_report(
            spark, n, source_df, spine, skeleton, compared=shared
        )
        for n in names
    }

