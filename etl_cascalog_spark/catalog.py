"""Query catalog: every operator from SURVEY.md §2 as a named, oracle-checked
query over the driver's test tables (TESTDATA.md).

Each entry couples

- a Spark builder ``(spark, sf_dir) -> DataFrame`` built from the engine's
  operator library, and
- an equivalent ANSI-SQL oracle for DuckDB (``None`` for genuinely
  non-SQL-expressible ops → driver runs a rows-only check).

Determinism rules (the driver hash-compares values):

- money aggregates go through exact DECIMAL arithmetic, then
  ``round(…, 2)::double`` — bit-identical across engines;
- no raw timestamps in outputs (dates/strings instead);
- map/array intermediates are sorted before use; outputs are scalars.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_cascalog_spark.io import ensure_min_parallelism, read_table
from etl_cascalog_spark.functions.conditionals import (
    null_safe_delta,
    nvl2,
)
from etl_cascalog_spark.operators.aggregates import grouped_pivot
from etl_cascalog_spark.operators.joins import (
    full_outer_coalesce,
    left_lookup,
    star_join,
)
from etl_cascalog_spark.operators.periods import with_period_comparisons
from etl_cascalog_spark.operators.surrogate import assign_dense_ids_scaled


@dataclass(frozen=True)
class QuerySpec:
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        QUERIES[name] = QuerySpec(build=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def money(col: F.Column, scale: str = "decimal(12,2)") -> F.Column:
    """Exact-decimal view of a 2-dp double column (determinism rule)."""
    return col.cast(scale)


def dround(col: F.Column, digits: int = 2) -> F.Column:
    """round→double: canonical output form for aggregated money."""
    return F.round(col, digits).cast("double")


# ---------------------------------------------------------------------------
# A. Aggregation core (A1/A9, F-section pushdown) — flagship
# ---------------------------------------------------------------------------

@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_base_price,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_disc_price,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_charge,
           CAST((2 * CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS BIGINT) + count(*))
                // (2 * count(*)) AS DOUBLE) / 100.0 AS avg_qty,
           CAST((2 * CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS BIGINT) + count(*))
                // (2 * count(*)) AS DOUBLE) / 100.0 AS avg_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="A1/A9 multi-agg single group; filter pushdown to scan. TPC-H Q1 shape "
    "— the reference's grouped multi-aggregator pass (trgx.clj:152-159).",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    qty = money(F.col("l_quantity"))
    price = money(F.col("l_extendedprice"))
    disc = money(F.col("l_discount"), "decimal(4,2)")
    tax = money(F.col("l_tax"), "decimal(4,2)")
    # averages are exact integer half-away-from-zero divisions in cents
    # (the rounding-tie lesson, SCALE.md): round(double/count) diverges
    # between engines when the true mean is an exact .xx5 tie
    def mean_cents_2dp(sum_col: str) -> F.Column:
        return (
            F.expr(
                f"(2 * CAST({sum_col} * 100 AS BIGINT) + count_order)"
                " div (2 * count_order)"
            ).cast("double")
            / F.lit(100.0)
        )

    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).alias("__sq"),
            F.sum(price).alias("__sp"),
            dround(F.sum(price * (F.lit(1) - disc))).alias("sum_disc_price"),
            dround(F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax))).alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            dround(F.col("__sq")).alias("sum_qty"),
            dround(F.col("__sp")).alias("sum_base_price"),
            "sum_disc_price",
            "sum_charge",
            mean_cents_2dp("__sq").alias("avg_qty"),
            mean_cents_2dp("__sp").alias("avg_price"),
            "count_order",
        )
    )


# ---------------------------------------------------------------------------
# B. Joins (J1-J4)
# ---------------------------------------------------------------------------

@register(
    "star_join_revenue",
    oracle="""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2
    """,
    doc="J1 N-way star join (mlin/d_bolome_user_order.clj:73-86 shape): fact "
    "⋈ 4 dims. BOUNDED dims (nation 25 rows, region 5) carry broadcast "
    "hints; customer scales with the corpus, so its attach is a bare "
    "join AQE broadcast-converts only while it fits.",
)
def star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    joined = star_join(
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner"),
        [
            # customer scales with the corpus — no mandatory hint
            (cust.select("c_custkey", "c_nationkey"), [F.col("o_custkey") == F.col("c_custkey")], "inner", False),
            (nation.select("n_nationkey", "n_name", "n_regionkey"), [F.col("c_nationkey") == F.col("n_nationkey")], "inner"),
            (region, [F.col("n_regionkey") == F.col("r_regionkey")], "inner"),
        ],
    )
    price = money(F.col("l_extendedprice"))
    disc = money(F.col("l_discount"), "decimal(4,2)")
    return (
        joined.groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            dround(F.sum(price * (F.lit(1) - disc))).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "left_lookup_coalesce",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_partkey,
           coalesce(p.p_brand, 'UNKNOWN') AS brand,
           CASE WHEN p.p_partkey IS NOT NULL THEN 1 ELSE 0 END AS matched
    FROM lineitem l
    LEFT JOIN (SELECT p_partkey, p_brand FROM part WHERE p_size < 25) p
      ON l.l_partkey = p.p_partkey
    """,
    doc="J2 left-outer dim lookup that may miss (!!var binding, mlin:81) + "
    "X6 nvl2/coalesce on the miss. part scales with the corpus, so the "
    "lookup is a bare left join (planner broadcasts while it fits).",
)
def left_lookup_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").where(F.col("p_size") < 25).select("p_partkey", "p_brand")
    out = left_lookup(
        li, part, on=[F.col("l_partkey") == F.col("p_partkey")], broadcast=False
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        F.coalesce(F.col("p_brand"), F.lit("UNKNOWN")).alias("brand"),
        nvl2(F.col("p_partkey"), F.lit(1), F.lit(0)).alias("matched"),
    )


@register(
    "full_outer_merge",
    oracle="""
    WITH stg AS (
      SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal
      FROM customer WHERE c_custkey % 3 = 0
    ), ods AS (
      SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 2 = 0
    )
    SELECT coalesce(s.c_custkey, o.c_custkey) AS c_custkey,
           coalesce(s.c_name, o.c_name) AS c_name,
           coalesce(s.c_acctbal, o.c_acctbal) AS c_acctbal,
           CASE WHEN s.c_custkey IS NOT NULL AND o.c_custkey IS NOT NULL THEN 'both'
                WHEN s.c_custkey IS NOT NULL THEN 'stg_only' ELSE 'ods_only' END AS src
    FROM stg s FULL OUTER JOIN ods o ON s.c_custkey = o.c_custkey
    """,
    doc="J3/I4: the stg-vs-ods full-outer merge with or-tuple coalescing "
    "(ods/d_bolome_show.clj:42-50, trgx.clj:21). Staging value wins.",
)
def full_outer_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    stg = (
        cust.where(F.col("c_custkey") % 3 == 0)
        .select("c_custkey", "c_name", (F.col("c_acctbal") + 100.0).alias("c_acctbal"))
        .withColumn("__stg", F.lit(1))
    )
    ods = (
        cust.where(F.col("c_custkey") % 2 == 0)
        .select("c_custkey", "c_name", "c_acctbal")
        .withColumn("__ods", F.lit(1))
    )
    merged = full_outer_coalesce(stg, ods, on=["c_custkey"], prefer="left")
    return merged.select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        F.when(F.col("__stg").isNotNull() & F.col("__ods").isNotNull(), F.lit("both"))
        .when(F.col("__stg").isNotNull(), F.lit("stg_only"))
        .otherwise(F.lit("ods_only"))
        .alias("src"),
    )


# ---------------------------------------------------------------------------
# C. Period comparisons (W1/W2/W5, J4, A4, X6) — the signature pipeline
# ---------------------------------------------------------------------------

@register(
    "period_compare",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS priority,
             last_day(CAST(o_orderdate AS DATE)) AS dw_dt,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS value
      FROM orders GROUP BY 1, 2
    ), spine AS (
      SELECT last_day(CAST(d AS DATE)) AS dw_dt
      FROM (SELECT unnest(generate_series(DATE '1996-01-01', DATE '1997-12-01', INTERVAL 1 MONTH)) AS d)
    ), dims AS (SELECT DISTINCT priority FROM base)
    SELECT d.priority, s.dw_dt,
           b.value AS value,
           pp.value AS pp_value,
           dec.value AS last_dec_value,
           yoy.value AS yoy_value,
           b.value - pp.value AS pp_delta,
           b.value - dec.value AS last_dec_delta,
           b.value - yoy.value AS yoy_delta
    FROM dims d
    CROSS JOIN spine s
    LEFT JOIN base b   ON b.priority = d.priority AND b.dw_dt = s.dw_dt
    LEFT JOIN base pp  ON pp.priority = d.priority AND pp.dw_dt = last_day(s.dw_dt - INTERVAL 1 MONTH)
    LEFT JOIN base dec ON dec.priority = d.priority AND dec.dw_dt = make_date(CAST(year(s.dw_dt) AS INT) - 1, 12, 31)
    LEFT JOIN base yoy ON yoy.priority = d.priority AND yoy.dw_dt = last_day(s.dw_dt - INTERVAL 12 MONTH)
    WHERE b.value IS NOT NULL
    """,
    doc="§2.6 signature sliding: group-pivot (A4) → month spine (W5/J4) → "
    "calendar lag keys prev-last-day/prev-last-month/prev-same-month "
    "(trgx.clj:30-32) → map probe (kv->lkp trgx.clj:60) → null-safe deltas "
    "(m_cocacola_score_channel.clj:58-60). Calendar-keyed: missing month → "
    "NULL, never the previous row.",
)
def period_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.last_day(F.col("o_orderdate").cast("date")).alias("dw_dt"),
        )
        .agg(dround(F.sum(money(F.col("o_totalprice")))).alias("value"))
    )
    return with_period_comparisons(
        spark,
        monthly,
        dims=["priority"],
        date_col="dw_dt",
        value_col="value",
        spine_start="1996-01-01",
        spine_end="1997-12-31",
    )


@register(
    "pivot_kv_lookup",
    oracle="""
    WITH b AS (
      SELECT user_id, event_type,
             CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           max(CASE WHEN event_type = 'purchase' THEN v END) AS purchase_total,
           max(CASE WHEN event_type = 'view' THEN v END) AS view_total,
           max(CASE WHEN event_type = 'click' THEN v END) AS click_total
    FROM b GROUP BY user_id
    """,
    doc="A4/X7: collect-kv map pivot (trgx.clj:45) + multi-key probe "
    "kv->lkp (trgx.clj:60) — scalars out, one shuffle per level.",
)
def pivot_kv_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    per_type = events.groupBy("user_id", "event_type").agg(
        dround(F.sum(money(F.col("value")))).alias("v")
    )
    pivoted = grouped_pivot(per_type, ["user_id"], F.col("event_type"), F.col("v"), out_col="kv")
    kv = F.col("kv")
    return pivoted.select(
        "user_id",
        F.element_at(kv, "purchase").alias("purchase_total"),
        F.element_at(kv, "view").alias("view_total"),
        F.element_at(kv, "click").alias("click_total"),
    )


# ---------------------------------------------------------------------------
# D. Windows / ranking / surrogate ids (W3/W4, A8)
# ---------------------------------------------------------------------------

@register(
    "surrogate_ids",
    oracle="""
    SELECT c_custkey,
           999 + row_number() OVER (ORDER BY c_custkey) AS dw_id
    FROM customer
    """,
    doc="A8/E2 surrogate-id continuation from max existing id "
    "(trgx.clj:166-186) — range-partitioned parallel rank + broadcast "
    "offset rebase (assign_dense_ids_scaled), not the reference's "
    "single-reducer group (ods/d_bolome_show.clj:51) nor a no-partition "
    "window.",
)
def surrogate_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer").select("c_custkey")
    return assign_dense_ids_scaled(
        cust, order_by=["c_custkey"], id_col="dw_id", start_at=1000
    )


@register(
    "regex_filter_guard",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_type,
           CASE WHEN NOT regexp_matches(p_name, 'widget|gear') THEN p_name END AS guarded_name
    FROM part
    WHERE regexp_matches(p_type, '^(ECONOMY|PROMO)')
      AND NOT regexp_matches(p_brand, '#1[0-9]$')
      AND p_brand NOT IN ('Brand#1', 'Brand#2', 'Brand#3')
    """,
    doc="F5/F6/F7: re-find keep (m_cocacola_score_overall.clj:67), negated "
    "regex (m_cocacola_sovi_brand.clj:72), NOT-IN set "
    "(m_cocacola_score_period.clj:74-79), and the regex-guard "
    "filter+project (:68-70) as a nullable passthrough column.",
)
def regex_filter_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.filters import (
        not_in_set,
        regex_drop,
        regex_guard,
        regex_keep,
    )

    part = read_table(spark, sf_dir, "part")
    return (
        part.where(regex_keep(F.col("p_type"), "^(ECONOMY|PROMO)"))
        .where(regex_drop(F.col("p_brand"), "#1[0-9]$"))
        .where(not_in_set(F.col("p_brand"), ["Brand#1", "Brand#2", "Brand#3"]))
        .select(
            "p_partkey",
            "p_name",
            "p_brand",
            "p_type",
            regex_guard(F.col("p_name"), "widget|gear").alias("guarded_name"),
        )
    )


@register(
    "null_string_cleansing",
    oracle="""
    WITH dirty AS (
      SELECT o_orderpriority,
             CASE WHEN o_orderstatus = 'P' THEN 'null' ELSE o_orderstatus END AS status
      FROM orders
    )
    SELECT o_orderpriority,
           max(CASE WHEN lower(status) = 'null' THEN NULL ELSE status END) AS max_status,
           min(CASE WHEN lower(status) = 'null' THEN NULL ELSE status END) AS min_status,
           count(*) AS n
    FROM dirty GROUP BY o_orderpriority
    """,
    doc='F9/A3: "null"-string → real NULL (convert-null trgx.clj:20) feeding '
    "str-max/str-min (trgx.clj:63-69).",
)
def null_string_cleansing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.aggregates import str_max, str_min

    orders = read_table(spark, sf_dir, "orders")
    dirty = orders.select(
        "o_orderpriority",
        F.when(F.col("o_orderstatus") == "P", F.lit("null"))
        .otherwise(F.col("o_orderstatus"))
        .alias("status"),
    )
    return dirty.groupBy("o_orderpriority").agg(
        str_max(F.col("status")).alias("max_status"),
        str_min(F.col("status")).alias("min_status"),
        F.count("*").alias("n"),
    )


@register(
    "collect_set_agg",
    oracle="""
    SELECT c_nationkey,
           string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
           count(DISTINCT c_mktsegment) AS n_segments
    FROM customer GROUP BY c_nationkey
    """,
    doc="A5 collect-set (mlin/d_bolome_user_order.clj:41) — sorted for "
    "deterministic output, serialized to a join-string at the edge.",
)
def collect_set_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    return cust.groupBy("c_nationkey").agg(
        F.array_join(F.array_sort(F.collect_set("c_mktsegment")), ",").alias("segments"),
        F.size(F.collect_set("c_mktsegment")).cast("long").alias("n_segments"),
    )


@register(
    "collect_kvs_probe",
    oracle="""
    SELECT c_nationkey,
           count(DISTINCT CASE WHEN c_mktsegment = 'BUILDING' THEN c_custkey END) AS n_building,
           min(CASE WHEN c_mktsegment = 'BUILDING' THEN c_custkey END) AS first_building
    FROM customer GROUP BY c_nationkey
    """,
    doc="A6 collect-kvs (mlin:42): map key → sorted value-set in ONE grouped "
    "pass (higher-order fold, no second shuffle), probed to scalars.",
)
def collect_kvs_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.aggregates import collect_kvs

    cust = read_table(spark, sf_dir, "customer")
    kvs = F.col("kvs")
    probed = F.element_at(kvs, "BUILDING")
    return (
        cust.groupBy("c_nationkey")
        .agg(collect_kvs(F.col("c_mktsegment"), F.col("c_custkey")).alias("kvs"))
        .select(
            "c_nationkey",
            F.coalesce(F.size(probed), F.lit(0)).cast("long").alias("n_building"),
            F.element_at(probed, 1).alias("first_building"),
        )
    )


@register(
    "union_variants",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue
    FROM orders GROUP BY o_orderpriority
    UNION ALL
    SELECT 'ALL' AS priority,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue
    FROM orders
    """,
    doc="O3: the multi-?- append pattern — per-dimension variant + all-up "
    "variant unioned into one sink (m_cocacola_core_sku.clj:93-95).",
)
def union_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    rev = dround(F.sum(money(F.col("o_totalprice")))).alias("revenue")
    by_priority = orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(rev)
    all_up = orders.agg(rev).select(F.lit("ALL").alias("priority"), "revenue")
    return by_priority.unionByName(all_up)


@register(
    "set_ops",
    oracle="""
    WITH b AS (SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'),
         a AS (SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'),
         m AS (SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'
               AND c_acctbal > 9000)
    SELECT c_nationkey, 'both' AS which FROM (SELECT * FROM b INTERSECT SELECT * FROM a)
    UNION ALL
    SELECT c_nationkey, 'no_rich_machinery' AS which
    FROM (SELECT * FROM b EXCEPT SELECT * FROM m)
    """,
    doc="O4 intersect/except — absent from the reference (Cascalog offered "
    "no set ops; SURVEY §2.7), free in Spark: distinct-set INTERSECT and "
    "EXCEPT over derived keys, tagged and unioned into one result.",
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    building = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
    auto = cust.where(F.col("c_mktsegment") == "AUTOMOBILE").select("c_nationkey")
    rich_mach = cust.where(
        (F.col("c_mktsegment") == "MACHINERY") & (F.col("c_acctbal") > 9000)
    ).select("c_nationkey")
    both = building.intersect(auto).select(
        "c_nationkey", F.lit("both").alias("which")
    )
    without = building.distinct().exceptAll(rich_mach.distinct()).select(
        "c_nationkey", F.lit("no_rich_machinery").alias("which")
    )
    return both.unionByName(without)


@register(
    "rollup_totals",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty,
           count(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="A12: grouping-sets/rollup — replaces the reference's "
    "separate-query-per-variant union (m_cocacola_core_sku.clj:44-80) with "
    "one shuffle.",
)
def rollup_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            dround(F.sum(money(F.col("l_quantity")))).alias("sum_qty"),
            F.count("*").alias("n"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


@register(
    "distinct_pairs",
    oracle="""
    SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders
    """,
    doc="A11: explicit distinct (Cascalog 3 made dedup opt-in; SURVEY §2.5).",
)
def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "orders").select("o_orderpriority", "o_orderstatus").distinct()


@register(
    "anti_semi_join",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CASE WHEN EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
                THEN 1 ELSE 0 END AS has_orders
    FROM customer c
    """,
    doc="J6 semi/anti — absent in the reference (emulated via J3 + null "
    "checks); native left_semi/left_anti here. Expressed as an "
    "existence flag via semi ∪ anti.",
)
def anti_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.joins import anti_join, semi_join

    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = read_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    with_orders = semi_join(cust, orders, on="c_custkey").withColumn("has_orders", F.lit(1))
    without = anti_join(cust, orders, on="c_custkey").withColumn("has_orders", F.lit(0))
    return with_orders.unionByName(without)


@register(
    "scalar_kitchen_sink",
    oracle="""
    SELECT o_orderkey,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
           CAST(last_day(CAST(o_orderdate AS DATE) - INTERVAL 1 MONTH) AS VARCHAR) AS prev_month_end,
           CAST(CAST(o_orderdate AS DATE) + 7 AS VARCHAR) AS next_week,
           CAST(date_trunc('year', CAST(o_orderdate AS DATE)) AS VARCHAR) AS year_start,
           substr(o_orderpriority, 1, 1) AS prio_code,
           lower(split_part(o_orderpriority, '-', 2)) AS prio_word,
           o_orderstatus || '/' || o_orderpriority AS status_prio,
           regexp_extract(o_orderpriority, '^([0-9]+)', 1) AS prio_digit,
           CAST(round(CAST(o_totalprice AS DECIMAL(12,2)) * 0.9, 2) AS DOUBLE) AS discounted,
           CASE WHEN o_totalprice IS NULL THEN NULL
                WHEN o_totalprice > 200000 THEN 1 ELSE 0 END AS is_big,
           CASE WHEN o_orderstatus = 'F' THEN 'final' ELSE 'open' END AS status_word,
           least(o_totalprice, 150000.0) AS capped
    FROM orders WHERE o_orderkey < 400
    """,
    doc="X1-X6 scalar library sweep: calendar arithmetic (trgx.clj:26-32), "
    "string ops (split+first m_cocacola_score_overall.clj:64-65, concat "
    "m_cocacola_score_period.clj:64, regex extract trgx.clj:49), math, "
    "cif/least/null-safe compare (mlin:45-48,64-65).",
)
def scalar_kitchen_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.functions.conditionals import c_gt, cif
    from etl_cascalog_spark.functions.dates import (
        future_dt,
        last_day_of_month,
        prev_last_day,
    )

    orders = read_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 400)
    dt = F.col("o_orderdate").cast("date")
    prio = F.col("o_orderpriority")
    return orders.select(
        "o_orderkey",
        last_day_of_month(dt).cast("string").alias("month_end"),
        prev_last_day(dt).cast("string").alias("prev_month_end"),
        future_dt(dt, 7).cast("string").alias("next_week"),
        F.trunc(dt, "year").cast("string").alias("year_start"),
        F.substring(prio, 1, 1).alias("prio_code"),
        F.lower(F.element_at(F.split(prio, "-"), 2)).alias("prio_word"),
        F.concat(F.col("o_orderstatus"), F.lit("/"), prio).alias("status_prio"),
        F.regexp_extract(prio, "^([0-9]+)", 1).alias("prio_digit"),
        dround(money(F.col("o_totalprice")) * F.lit("0.9").cast("decimal(2,1)")).alias("discounted"),
        c_gt(F.col("o_totalprice"), F.lit(200000.0)).cast("int").alias("is_big"),
        cif(F.col("o_orderstatus") == "F", F.lit("final"), F.lit("open")).alias("status_word"),
        F.least(F.col("o_totalprice"), F.lit(150000.0)).alias("capped"),
    )


@register(
    "sessionization",
    oracle="""
    WITH s AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), t AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM s
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_s,
           CAST(floor(epoch(max(ts))) AS BIGINT) AS session_end_s,
           count(*) AS n_events
    FROM t GROUP BY 1, 2
    """,
    doc="Beyond-reference streaming surface (I6) in its batch formulation: "
    "gaps-and-islands sessionization, 30-minute gap. Streaming twin: "
    "session_window (streaming/windows.py).",
)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.sessions import session_stats

    events = read_table(spark, sf_dir, "events")
    stats = session_stats(events, ["user_id"], "ts", gap="30 minutes")
    return stats.select(
        "user_id",
        F.col("session_id").cast("long"),
        F.unix_timestamp("session_start").alias("session_start_s"),
        F.unix_timestamp("session_end").alias("session_end_s"),
        "n_events",
    )


@register(
    "tumbling_window_agg",
    oracle="""
    SELECT CAST(floor(epoch(time_bucket(INTERVAL 1 HOUR, ts))) AS BIGINT) AS window_start_s,
           event_type,
           count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
    doc="I6 streaming surface, batch formulation: tumbling 1-hour event-time "
    "window — identical semantics to groupBy(window(ts,'1 hour')) under "
    "Structured Streaming with a watermark.",
)
def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.sessions import tumbling_window

    events = read_table(spark, sf_dir, "events")
    out = tumbling_window(
        events,
        "ts",
        "1 hour",
        group_cols=["event_type"],
        aggs=[
            F.count("*").alias("n"),
            dround(F.sum(money(F.col("value")))).alias("total_value"),
        ],
    )
    return out.select(
        F.unix_timestamp("window_start").alias("window_start_s"),
        "event_type",
        "n",
        "total_value",
    )


@register(
    "report_ranking_buttons",
    oracle="""
    WITH monthly AS (
      SELECT n.n_name AS nation,
             last_day(CAST(o.o_orderdate AS DATE)) AS dw_dt,
             CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS value
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ), spine AS (
      SELECT last_day(CAST(d AS DATE)) AS dw_dt
      FROM (SELECT unnest(generate_series(DATE '1996-01-01', DATE '1997-12-01', INTERVAL 1 MONTH)) AS d)
    ), dims AS (SELECT DISTINCT nation FROM monthly),
    cmp AS (
      SELECT d.nation, s.dw_dt, b.value,
             b.value - pp.value  AS pp_delta,
             b.value - ld.value  AS last_dec_delta,
             b.value - yoy.value AS yoy_delta
      FROM dims d CROSS JOIN spine s
      LEFT JOIN monthly b   ON b.nation = d.nation AND b.dw_dt = s.dw_dt
      LEFT JOIN monthly pp  ON pp.nation = d.nation AND pp.dw_dt = last_day(s.dw_dt - INTERVAL 1 MONTH)
      LEFT JOIN monthly ld  ON ld.nation = d.nation AND ld.dw_dt = CAST(date_trunc('year', s.dw_dt) AS DATE) - 1
      LEFT JOIN monthly yoy ON yoy.nation = d.nation AND yoy.dw_dt = last_day(s.dw_dt - INTERVAL 12 MONTH)
      WHERE b.value IS NOT NULL
    ), buttons AS (
      SELECT nation, dw_dt, 'vs Last Month' AS button,
             CAST(pp_delta AS DECIMAL(18,2)) AS score FROM cmp WHERE pp_delta IS NOT NULL
      UNION ALL
      SELECT nation, dw_dt, 'vs Last Dec',
             CAST(last_dec_delta AS DECIMAL(18,2)) FROM cmp WHERE last_dec_delta IS NOT NULL
      UNION ALL
      SELECT nation, dw_dt, 'vs Last Year',
             CAST(yoy_delta AS DECIMAL(18,2)) FROM cmp WHERE yoy_delta IS NOT NULL
    ), ranked AS (
      SELECT dw_dt, button, nation, score,
             row_number() OVER (PARTITION BY dw_dt, button ORDER BY score DESC, nation) AS r_top,
             row_number() OVER (PARTITION BY dw_dt, button ORDER BY score ASC, nation)  AS r_bot
      FROM buttons
    )
    SELECT dw_dt, button, nation, CAST(score AS DOUBLE) AS score,
           CAST(r_top AS INT) AS rnk, 'top' AS side
    FROM ranked WHERE r_top <= 5
    UNION ALL
    SELECT dw_dt, button, nation, CAST(score AS DOUBLE) AS score,
           CAST(r_bot AS INT) AS rnk, 'bottom' AS side
    FROM ranked WHERE r_bot <= 5
    """,
    doc="The m_cocacola_score_top_bottom5_ranking shape (SURVEY W4/O3, "
    ":81-148): three button variants ranked by a different calendar delta "
    "each (pp / last-Dec / yoy), top-5 + bottom-5 per month, unioned into "
    "one sink — the reference ran it as three ?- appends. Native "
    "row_number replaces the reference's ship-sort-keys-to-UI approach.",
)
def report_ranking_buttons(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.periods import with_period_comparisons

    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    monthly = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.last_day(F.col("o_orderdate").cast("date")).alias("dw_dt"),
        )
        .agg(dround(F.sum(money(F.col("o_totalprice")))).alias("value"))
    )
    compared = with_period_comparisons(
        spark, monthly, dims=["nation"], date_col="dw_dt", value_col="value",
        spine_start="1996-01-01", spine_end="1997-12-31",
    )
    # ONE pass, not 6 union branches: a union-per-variant (the reference's
    # three ?- appends × top/bottom) re-executes the whole upstream
    # pipeline per branch (measured 72 Exchanges in the physical plan).
    # stack() unpivots the three deltas map-side; one window pair ranks
    # them; explode emits the top/bottom sides. 72 → ~8 Exchanges.
    stacked = compared.select(
        "dw_dt",
        "nation",
        F.expr(
            "stack(3, 'vs Last Month', pp_delta, 'vs Last Dec', last_dec_delta,"
            " 'vs Last Year', yoy_delta) AS (button, raw_score)"
        ),
    ).where(F.col("raw_score").isNotNull())
    scored = stacked.select(
        "dw_dt", "button", "nation", F.col("raw_score").cast("decimal(18,2)").alias("score")
    )
    w_top = Window.partitionBy("dw_dt", "button").orderBy(F.col("score").desc(), "nation")
    w_bot = Window.partitionBy("dw_dt", "button").orderBy(F.col("score").asc(), "nation")
    ranked = scored.select(
        "*",
        F.row_number().over(w_top).alias("r_top"),
        F.row_number().over(w_bot).alias("r_bot"),
    )
    sides = F.array(
        F.struct(F.lit("top").alias("side"), F.col("r_top").alias("rnk")),
        F.struct(F.lit("bottom").alias("side"), F.col("r_bot").alias("rnk")),
    )
    return (
        ranked.select("dw_dt", "button", "nation", "score", F.explode(sides).alias("s"))
        .where(F.col("s.rnk") <= 5)
        .select(
            "dw_dt",
            "button",
            "nation",
            F.col("score").cast("double").alias("score"),
            F.col("s.rnk").cast("int").alias("rnk"),
            F.col("s.side").alias("side"),
        )
    )


@register(
    "mlvar_user_tree",
    oracle="""
    WITH base AS (
      SELECT o_custkey AS custkey,
             strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
             CAST(o_orderkey AS VARCHAR) AS orderkey,
             CAST(l_linenumber AS VARCHAR) AS lineno,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DECIMAL(18,2)) AS price,
             CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DECIMAL(18,2)) AS qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_custkey < 500
      GROUP BY 1, 2, 3, 4
    ), leafj AS (
      SELECT custkey, month, orderkey, lineno,
             '{"price":' || CAST(price AS VARCHAR)
               || ',"qty":' || CAST(qty AS VARCHAR) || '}' AS j
      FROM base
    ), l3 AS (
      SELECT custkey, month, orderkey,
             '{' || string_agg('"' || lineno || '":' || j, ',' ORDER BY lineno) || '}' AS j
      FROM leafj GROUP BY 1, 2, 3
    ), l2 AS (
      SELECT custkey, month,
             '{' || string_agg('"' || orderkey || '":' || j, ',' ORDER BY orderkey) || '}' AS j
      FROM l3 GROUP BY 1, 2
    )
    SELECT custkey,
           '{' || string_agg('"' || month || '":' || j, ',' ORDER BY month) || '}' AS tree_json
    FROM l2 GROUP BY 1
    """,
    doc="The mlvar flagship: the 5-stage per-user nested tree rollup "
    "(user → month → order → order-item, mlvar/d_bolome_user_order.clj:"
    "80-132) as nest_json staged folds over the long format — one grouped "
    "pass per level, each keyed on a strict prefix of the previous "
    "(partial aggregation stays effective); JSON replaces EDN-text travel.",
)
def mlvar_user_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.plans.trgx import metrics_json, nest_json

    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 500)
    # the synthetic lineitem has duplicate line numbers per order — the
    # node key must be unique, so duplicates aggregate into one leaf
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias("month"),
            F.col("o_orderkey").cast("string").alias("orderkey"),
            F.col("l_linenumber").cast("string").alias("lineno"),
        )
        .agg(
            dround(F.sum(money(F.col("l_extendedprice")))).cast("decimal(18,2)").alias("price"),
            dround(F.sum(money(F.col("l_quantity")))).cast("decimal(18,2)").alias("qty"),
        )
    )
    leaf = metrics_json({"price": F.col("price"), "qty": F.col("qty")})
    return nest_json(
        base, group_cols=["custkey"], level_cols=["month", "orderkey", "lineno"],
        leaf_json=leaf,
    )


@register(
    "train_window_slices",
    oracle="""
    WITH cutoffs AS (
      SELECT CAST(unnest(generate_series(DATE '2024-01-08', DATE '2024-01-29', INTERVAL 7 DAY)) AS DATE) AS cutoff
    ), sliced AS (
      SELECT user_id, cutoff,
             count(*) FILTER (ts >= CAST(cutoff - INTERVAL 7 DAY AS TIMESTAMP) AND ts < CAST(cutoff AS TIMESTAMP)) AS n_train,
             CAST(round(sum(CAST(value AS DECIMAL(12,2)))
                        FILTER (ts >= CAST(cutoff - INTERVAL 7 DAY AS TIMESTAMP) AND ts < CAST(cutoff AS TIMESTAMP)), 2)
                  AS DOUBLE) AS train_value,
             count(*) FILTER (ts >= CAST(cutoff AS TIMESTAMP) AND ts < CAST(cutoff + INTERVAL 3 DAY AS TIMESTAMP)) AS n_test
      FROM events CROSS JOIN cutoffs
      WHERE (ts >= CAST(cutoff - INTERVAL 7 DAY AS TIMESTAMP) AND ts < CAST(cutoff AS TIMESTAMP))
         OR (ts >= CAST(cutoff AS TIMESTAMP) AND ts < CAST(cutoff + INTERVAL 3 DAY AS TIMESTAMP))
      GROUP BY 1, 2
    )
    SELECT user_id, CAST(cutoff AS VARCHAR) AS cutoff, n_train, train_value, n_test
    FROM sliced
    """,
    doc="take-train-dts train/test window slicing (mlvar/d_bolome_user_"
    "order_stat.clj:52-70): weekly cutoffs, 7-day train features + 3-day "
    "test labels per (user, cutoff) in one grouped pass over a broadcast "
    "cutoff spine.",
)
def train_window_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.sessions import train_test_slices

    events = read_table(spark, sf_dir, "events")
    cutoffs = spark.sql(
        "SELECT explode(sequence(DATE '2024-01-08', DATE '2024-01-29', INTERVAL 7 DAY)) AS cutoff"
    )
    out = train_test_slices(
        events.withColumn("value", money(F.col("value"))),
        cutoffs,
        key_cols=["user_id"],
        ts_col="ts",
        value_col="value",
        train_days=7,
        test_days=3,
    )
    return out.select(
        "user_id",
        F.col("cutoff").cast("string").alias("cutoff"),
        "n_train",
        dround(F.col("train_value")).alias("train_value"),
        "n_test",
    )


def _shift_cut_windows() -> dict:
    """Shared plan-time window spec for shift_cut_trgx_features — generated
    once by take_train_dts so the Spark query and the DuckDB oracle can't
    drift (mirrors the reference fetching its dm/dw ranges at plan time,
    mlvar/d_bolome_user_order_stat.clj:52-70)."""
    from etl_cascalog_spark.operators.sessions import take_train_dts

    return take_train_dts(
        n=3,
        back_step=7,
        dm_range=("1998-06-01", "1998-06-30"),
        dw_range=("1992-01-01", "1998-08-02"),
        intervals=[30, 90],
    )


def _shift_cut_oracle_sql() -> str:
    wins = _shift_cut_windows()
    rows = []
    for kind in ("train", "test"):
        for w_idx, spec in enumerate(wins[kind]):
            y_s, y_e = spec["y"]
            for itv, (x_s, x_e) in spec["xs"].items():
                rows.append(
                    f"('{kind}', {w_idx}, '{y_s}', '{y_e}', {int(itv)}, '{x_s}', '{x_e}')"
                )
    values = ", ".join(rows)
    return f"""
    WITH wins(kind, window_idx, y_start, y_end, x_interval, x_start, x_end)
      AS (VALUES {values}),
    items AS (
      SELECT o_custkey AS user_id, CAST(o_orderdate AS VARCHAR) AS dt,
             l_partkey AS product, o_orderkey AS ord,
             CAST(l_extendedprice AS DECIMAL(12,2)) AS revenue,
             CAST(l_quantity AS DECIMAL(12,2)) AS quantity
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_custkey < 300
    ), j AS (
      SELECT * FROM items CROSS JOIN wins
      WHERE (dt BETWEEN x_start AND x_end) OR (dt BETWEEN y_start AND y_end)
    )
    SELECT user_id, kind, CAST(window_idx AS INT) AS window_idx,
           CAST(x_interval AS INT) AS x_interval,
           max(CASE WHEN dt BETWEEN y_start AND y_end THEN 1 ELSE 0 END) AS y_flag,
           count(DISTINCT CASE WHEN dt BETWEEN x_start AND x_end
                 THEN dt || '|' || product || '|' || ord END) AS order_cnt,
           CAST(round(sum(CASE WHEN dt BETWEEN x_start AND x_end THEN revenue END), 2) AS DOUBLE) AS revenue,
           CAST(round(sum(CASE WHEN dt BETWEEN x_start AND x_end THEN quantity END), 2) AS DOUBLE) AS quantity,
           CAST(round(sum(CASE WHEN dt BETWEEN x_start AND x_end AND product = 1 THEN revenue END), 2) AS DOUBLE) AS revenue_p1,
           CAST(round(sum(CASE WHEN dt BETWEEN x_start AND x_end AND product = 1 THEN quantity END), 2) AS DOUBLE) AS quantity_p1,
           CAST(round(sum(CASE WHEN dt BETWEEN x_start AND x_end AND product = 2 THEN revenue END), 2) AS DOUBLE) AS revenue_p2,
           CAST(round(sum(CASE WHEN dt BETWEEN x_start AND x_end AND product = 2 THEN quantity END), 2) AS DOUBLE) AS quantity_p2
    FROM j GROUP BY 1, 2, 3, 4
    """


@register(
    "shift_cut_trgx_features",
    oracle=_shift_cut_oracle_sql(),
    doc="shift-cut-trgx tree-window aggregation (mlvar/d_bolome_user_order_"
    "stat_new2017-03-10.clj:97-135) composed with take-train-dts (:52-70): "
    "per-user order trees shifted/truncated per train/test window — label "
    "flag over the y range, distinct-order counts and per-metric/"
    "per-product sums over each x lookback, in ONE grouped pass over a "
    "broadcast window spec (the reference walked each user's nested EDN "
    "per window on one thread).",
)
def shift_cut_trgx_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.sessions import shift_cut_features

    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 300)
    items = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("dt"),
        F.col("l_partkey").alias("product"),
        F.col("o_orderkey").alias("ord"),
        money(F.col("l_extendedprice")).alias("revenue"),
        money(F.col("l_quantity")).alias("quantity"),
    )
    out = shift_cut_features(
        items,
        _shift_cut_windows(),
        user_col="user_id",
        dt_col="dt",
        product_col="product",
        order_col="ord",
        metric_cols=["revenue", "quantity"],
        product_ids=(1, 2),
    )
    metric_out = [
        "revenue", "quantity", "revenue_p1", "quantity_p1", "revenue_p2", "quantity_p2",
    ]
    return out.select(
        "user_id", "kind", "window_idx", "x_interval", "y_flag", "order_cnt",
        *[dround(F.col(m)).alias(m) for m in metric_out],
    )


@register(
    "static_report",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS priority, o_orderstatus AS status,
             CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS VARCHAR) AS yr,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DECIMAL(18,2)) AS revenue,
             count(*) AS n
      FROM orders GROUP BY 1, 2, 3
    ), leafj AS (
      SELECT priority, status, yr,
             '{"revenue":' || CAST(revenue AS VARCHAR)
               || ',"n":' || CAST(CAST(n AS DECIMAL(18,2)) AS VARCHAR) || '}' AS j
      FROM base
    ), l2 AS (
      SELECT priority, status,
             '{' || string_agg('"' || yr || '":' || j, ',' ORDER BY yr) || '}' AS j
      FROM leafj GROUP BY 1, 2
    )
    SELECT CAST('9999-12-31' AS DATE) AS dw_dt, 'tpch' AS project,
           'demo' AS category, 'm_static_orders' AS report,
           '{"priority":"' || priority || '"}' AS selector,
           priority AS selector_desc,
           '{' || string_agg('"' || status || '":' || j, ',' ORDER BY status) || '}'
             AS dimension_metrics
    FROM l2 GROUP BY priority
    """,
    doc="The static full-refresh report shape (achievement_rate/"
    "anal_rep_kpis/core_sku family, m_cocacola_score_achievement_rate.clj"
    ":43-49): snapshot dw_dt key, 2-level payload of RAW metrics — no "
    "sliding pipeline; one grouped pass per payload level.",
)
def static_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.plans.report import StaticReportSpec, build_static_report

    orders = read_table(spark, sf_dir, "orders")
    base = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
        F.year(F.col("o_orderdate").cast("date")).cast("string").alias("yr"),
    ).agg(
        dround(F.sum(money(F.col("o_totalprice")))).cast("decimal(18,2)").alias("revenue"),
        F.count("*").cast("decimal(18,2)").alias("n"),
    )
    spec = StaticReportSpec(
        report="m_static_orders",
        project="tpch",
        category="demo",
        source="orders",
        selector_dims=["priority"],
        payload_dims=["status", "yr"],
        metrics=["revenue", "n"],
    )
    return build_static_report(spark, base, spec)


@register(
    "sliding_window_agg",
    oracle="""
    SELECT CAST(floor(epoch(time_bucket(INTERVAL 1 HOUR, ts) - off)) AS BIGINT)
             AS window_start_s,
           event_type,
           count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
    FROM events,
         UNNEST([INTERVAL 0 HOUR, INTERVAL 1 HOUR]) AS t(off)
    GROUP BY 1, 2
    """,
    doc="I6 streaming surface, batch formulation: 2-hour windows hopping "
    "every hour — each event explodes into width/slide windows map-side "
    "(the oracle states the same via the two shifted hour-buckets); one "
    "shuffle for the grouped agg, identical under Structured Streaming.",
)
def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.sessions import sliding_window

    events = read_table(spark, sf_dir, "events")
    out = sliding_window(
        events,
        "ts",
        "2 hours",
        "1 hour",
        group_cols=["event_type"],
        aggs=[
            F.count("*").alias("n"),
            dround(F.sum(money(F.col("value")))).alias("total_value"),
        ],
    )
    return out.select(
        F.unix_timestamp("window_start").alias("window_start_s"),
        "event_type",
        "n",
        "total_value",
    )


@register(
    "watermark_incremental_load",
    oracle="""
    WITH sink AS (
      SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    ), wm AS (
      SELECT CAST(max(o_orderdate) AS DATE) + 1 AS next_dt FROM sink
    )
    SELECT CAST((SELECT next_dt FROM wm) AS VARCHAR) AS load_start,
           count(*) AS loaded_rows,
           CAST(min(CAST(o_orderdate AS DATE)) AS VARCHAR) AS dw_start_dt,
           CAST(max(CAST(o_orderdate AS DATE)) AS VARCHAR) AS dw_end_dt
    FROM orders
    WHERE CAST(o_orderdate AS DATE) >= (SELECT next_dt FROM wm)
    """,
    doc="I1/I2 watermark reload: next window = max(sink dt)+1 "
    "(report->next-dt trgx.clj:110-116) filtering the source scan "
    "(pushed down), plus the load-range audit row "
    "(save-and-load-rng-dt! trgx.clj:130-164).",
)
def watermark_incremental_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.incremental import filter_to_range, next_load_range

    orders = read_table(spark, sf_dir, "orders")
    sink = orders.where(F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    start, _end = next_load_range(sink, date_col="o_orderdate")
    loaded = filter_to_range(orders, "o_orderdate", start, "9999-12-31")
    return loaded.agg(
        F.lit(start).alias("load_start"),
        F.count("*").alias("loaded_rows"),
        F.min(F.col("o_orderdate").cast("date")).cast("string").alias("dw_start_dt"),
        F.max(F.col("o_orderdate").cast("date")).cast("string").alias("dw_end_dt"),
    )


@register(
    "running_window_totals",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2)))
                  OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey
                        ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE) AS running_total,
           CAST(round(max(CAST(o_totalprice AS DECIMAL(12,2)))
                  OVER (PARTITION BY o_custkey), 2) AS DOUBLE) AS group_max
    FROM orders
    """,
    doc="W3: running totals + max-over-entire-group-history "
    "(unbounded frames; the reference computed group max by pivoting to a "
    "map and folding — m_cocacola_score_channel.clj:55).",
)
def running_window_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        dround(
            F.sum(money(F.col("o_totalprice"))).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            )
        ).alias("running_total"),
        dround(
            F.max(money(F.col("o_totalprice"))).over(Window.partitionBy("o_custkey"))
        ).alias("group_max"),
    )


# ---------------------------------------------------------------------------
# D2. Report framework + trgx tree layer (the reference's 38-job workload)
# ---------------------------------------------------------------------------

@register(
    "report_pipeline",
    oracle="""
    WITH monthly AS (
      SELECT o_orderpriority AS priority, o_orderstatus AS status,
             last_day(CAST(o_orderdate AS DATE)) AS dw_dt,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS value
      FROM orders GROUP BY 1, 2, 3
    ), spine AS (
      SELECT last_day(CAST(d AS DATE)) AS dw_dt
      FROM (SELECT unnest(generate_series(DATE '1996-01-01', DATE '1997-12-01', INTERVAL 1 MONTH)) AS d)
    ), dims AS (SELECT DISTINCT priority, status FROM monthly),
    cmp AS (
      SELECT d.priority, d.status, s.dw_dt,
             b.value AS value,
             b.value - pp.value AS pp_delta,
             b.value - yoy.value AS yoy_delta
      FROM dims d CROSS JOIN spine s
      LEFT JOIN monthly b   ON b.priority = d.priority AND b.status = d.status AND b.dw_dt = s.dw_dt
      LEFT JOIN monthly pp  ON pp.priority = d.priority AND pp.status = d.status AND pp.dw_dt = last_day(s.dw_dt - INTERVAL 1 MONTH)
      LEFT JOIN monthly yoy ON yoy.priority = d.priority AND yoy.status = d.status AND yoy.dw_dt = last_day(s.dw_dt - INTERVAL 12 MONTH)
      WHERE b.value IS NOT NULL
    ), leaf AS (
      SELECT priority, status, dw_dt,
             '{"value":' || coalesce(CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR), 'null')
             || ',"pp_delta":' || coalesce(CAST(CAST(pp_delta AS DECIMAL(18,2)) AS VARCHAR), 'null')
             || ',"yoy_delta":' || coalesce(CAST(CAST(yoy_delta AS DECIMAL(18,2)) AS VARCHAR), 'null')
             || '}' AS j
      FROM cmp
    ), nested AS (
      SELECT dw_dt, priority,
             '{' || string_agg('"' || status || '":' || j, ',' ORDER BY status) || '}' AS tree
      FROM leaf GROUP BY 1, 2
    )
    SELECT dw_dt, 'tpch' AS project, 'demo' AS category,
           'm_orders_by_status' AS report,
           '{"priority":"' || priority || '"}' AS selector,
           priority AS selector_desc,
           tree AS dimension_metrics
    FROM nested
    """,
    doc="THE reference workload: the full 38-report pipeline shape "
    "(SURVEY Appendix A / m_cocacola_score_overall.clj:60-74) as one "
    "declarative ReportSpec — scan → pivot → spine → calendar lags → "
    "null-safe deltas → nested payload JSON → ms.report sink rows. Even "
    "the JSON columns hash-match the oracle (deterministic assembly).",
)
def report_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.plans.report import ReportSpec, build_report

    orders = read_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
        F.last_day(F.col("o_orderdate").cast("date")).alias("dw_dt"),
    ).agg(dround(F.sum(money(F.col("o_totalprice")))).alias("value"))
    spec = ReportSpec(
        report="m_orders_by_status",
        project="tpch",
        category="demo",
        source="orders",
        date_col="dw_dt",
        value_col="value",
        selector_dims=["priority"],
        payload_dims=["status"],
        spine_start="1996-01-01",
        spine_end="1997-12-31",
        metrics=["value", "pp_delta", "yoy_delta"],
    )
    return build_report(spark, monthly, spec)


#: plan-time skeleton for the trgx_report_period query — the reference's
#: conf.trgx_cocacola shape (root → channel labels → kpi labels → metric
#: nodes), ids dashless so the kpi '-'-split rename stays clean
_TRGX_REPORT_SKELETON = {
    "全体-Total / 所有渠道": {
        "DATA": {},
        "BRANCH": {
            "CHANNELS": {
                "全体-Total / 所有渠道": {
                    "DATA": {"c_total_score": 100.0, "c_weight": 1.0},
                    "CHILDREN": {
                        "[P1]加急-Total / 所有渠道": {
                            "DATA": {"c_total_score": 20.0, "c_weight": 0.2}
                        },
                        "[P2]高优-Total / 所有渠道": {
                            "DATA": {"c_total_score": 30.0, "c_weight": 0.3}
                        },
                    },
                },
                "HMKT / 大卖场": {
                    "DATA": {"c_total_score": 50.0, "c_weight": 0.5},
                    "CHILDREN": {
                        "[P3]中优-HMKT / 大卖场": {
                            "DATA": {"c_total_score": 25.0, "c_weight": 0.25}
                        },
                    },
                },
            }
        },
    }
}


def _trgx_report_oracle_sql() -> str:
    """Replicates the whole score_period pipeline in SQL: monthly pivot →
    spine lags + group max → skeleton attach (paths pre-padded to
    (channel, kpi, metrics) in Python from the SAME literal) → kpi rename →
    nested {bottler: {period: {7 metrics}}} JSON at the snapshot key."""
    from etl_cascalog_spark.plans.trgx import merge_branches, node_id, skeleton_paths

    skel = merge_branches(_TRGX_REPORT_SKELETON, "全体-Total / 所有渠道")
    vals = []
    for path, data in skeleton_paths(skel):
        padded = list(path) + ["TOTAL"] * (4 - len(path))
        _, channel, kpi, metrics = padded[:4]
        if channel == "TOTAL" or not data:
            continue
        vals.append(
            f"('{node_id(path[-1])}', '{channel}', '{kpi}', '{metrics}', "
            f"CAST({data['c_total_score']} AS DECIMAL(18,2)), "
            f"CAST({data['c_weight']} AS DECIMAL(18,2)))"
        )
    values = ", ".join(vals)
    m7 = [
        ("c_total_score", "sk.c_total_score"),
        ("c_weight", "sk.c_weight"),
        ("value", "CAST(cmp.value AS DECIMAL(18,2))"),
        ("max_value", "CAST(cmp.max_value AS DECIMAL(18,2))"),
        ("pp_value", "CAST(cmp.pp_value AS DECIMAL(18,2))"),
        ("last_dec_value", "CAST(cmp.last_dec_value AS DECIMAL(18,2))"),
        ("last_year_same_month_score", "CAST(cmp.yoy_value AS DECIMAL(18,2))"),
    ]
    leaf = " || ',' || ".join(
        f"'\"{k}\":' || coalesce(CAST({v} AS VARCHAR), 'null')" for k, v in m7
    )
    return f"""
    WITH pr AS (
      SELECT 'P' || substr(o_orderpriority, 1, 1) AS code,
             n.n_name AS bottler, r.r_name AS bg,
             last_day(CAST(o.o_orderdate AS DATE)) AS dw_dt,
             CAST(o.o_totalprice AS DECIMAL(12,2)) AS v
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    ), monthly AS (
      SELECT code AS id, bottler, bg, dw_dt,
             CAST(round(sum(v), 2) AS DOUBLE) AS value
      FROM pr GROUP BY 1, 2, 3, 4
      UNION ALL
      SELECT '全体-Total / 所有渠道' AS id, bottler, bg, dw_dt,
             CAST(round(sum(v), 2) AS DOUBLE) AS value
      FROM pr GROUP BY 2, 3, 4
    ), spine AS (
      SELECT last_day(CAST(d AS DATE)) AS dw_dt
      FROM (SELECT unnest(generate_series(DATE '1996-01-01', DATE '1997-12-01', INTERVAL 1 MONTH)) AS d)
    ), dims AS (SELECT DISTINCT id, bottler, bg FROM monthly),
    cmp AS (
      SELECT d.id, d.bottler, d.bg, s.dw_dt, b.value,
             pp.value  AS pp_value,
             ld.value  AS last_dec_value,
             yoy.value AS yoy_value,
             max(b.value) OVER (PARTITION BY d.id, d.bottler, d.bg) AS max_value
      FROM dims d CROSS JOIN spine s
      LEFT JOIN monthly b   ON b.id = d.id AND b.bottler = d.bottler AND b.bg = d.bg AND b.dw_dt = s.dw_dt
      LEFT JOIN monthly pp  ON pp.id = d.id AND pp.bottler = d.bottler AND pp.bg = d.bg AND pp.dw_dt = last_day(s.dw_dt - INTERVAL 1 MONTH)
      LEFT JOIN monthly ld  ON ld.id = d.id AND ld.bottler = d.bottler AND ld.bg = d.bg AND ld.dw_dt = CAST(date_trunc('year', s.dw_dt) AS DATE) - 1
      LEFT JOIN monthly yoy ON yoy.id = d.id AND yoy.bottler = d.bottler AND yoy.bg = d.bg AND yoy.dw_dt = last_day(s.dw_dt - INTERVAL 12 MONTH)
      WHERE b.value IS NOT NULL
    ), skel(node_id, channel, kpi_raw, metrics, c_total_score, c_weight)
      AS (VALUES {values}),
    att AS (
      SELECT cmp.bottler, CAST(cmp.dw_dt AS VARCHAR) AS period,
             sk.channel,
             CASE WHEN sk.channel = '全体-Total / 所有渠道'
                  THEN string_split(sk.kpi_raw, '-')[1] ELSE sk.kpi_raw END AS kpi,
             sk.metrics,
             '{{' || {leaf} || '}}' AS j
      FROM cmp JOIN skel sk ON cmp.id = sk.node_id
    ), l2 AS (
      SELECT channel, kpi, metrics, bottler,
             '{{' || string_agg('"' || period || '":' || j, ',' ORDER BY period) || '}}' AS j
      FROM att GROUP BY 1, 2, 3, 4
    )
    SELECT CAST('9999-12-31' AS DATE) AS dw_dt, 'cocacola' AS project,
           'score' AS category, 'period' AS report,
           '{{"channel":"' || channel || '","kpi":"' || kpi
             || '","metrics":"' || metrics || '","bottler":"' || bottler || '"}}' AS selector,
           '' AS selector_desc,
           '{{' || string_agg('"' || bottler || '":' || j, ',' ORDER BY bottler) || '}}' AS dimension_metrics
    FROM l2 GROUP BY channel, kpi, metrics, bottler
    """


@register(
    "trgx_report_period",
    oracle=_trgx_report_oracle_sql(),
    doc="The trgx-payload report family end-to-end (m_cocacola_score_period"
    ".clj:59-101 via the registry's score_period spec): sliding "
    "comparisons + group max → kv->trgx skeleton attach → take-last/"
    "split/pad path algebra → Total-channel kpi rename → snapshot FR rows "
    "with config+sliding metrics nested per (bottler, period). Even the "
    "nested JSON hash-matches the SQL oracle.",
)
def trgx_report_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.plans.reports_registry import build_reference_report

    frame = trgx_score_frame(spark, sf_dir)
    return build_reference_report(
        spark, "score_period", frame, ("1996-01-01", "1997-12-31"),
        skeleton=_TRGX_REPORT_SKELETON,
    )


def trgx_score_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIXTURES-schema score frame for the trgx report family, derived from
    orders⋈customer⋈nation⋈region (also the shared-pivot fusion bench's
    source, tools/pivot_fusion_bench.py)."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    pr = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.concat(F.lit("P"), F.substring(F.col("o_orderpriority"), 1, 1)).alias("code"),
            F.col("n_name").alias("bottler"),
            F.col("r_name").alias("bg"),
            F.last_day(F.col("o_orderdate").cast("date")).alias("dw_dt"),
            money(F.col("o_totalprice")).alias("v"),
        )
    )
    monthly = pr.groupBy("code", "bottler", "bg", "dw_dt").agg(
        dround(F.sum(F.col("v"))).alias("value")
    )
    channel_rows = (
        pr.groupBy("bottler", "bg", "dw_dt")
        .agg(dround(F.sum(F.col("v"))).alias("value"))
        .select(
            F.lit(None).cast("string").alias("code"),
            F.lit("全体-Total / 所有渠道").alias("item"),
            "bottler", "bg", "dw_dt", "value",
        )
    )
    frame = (
        monthly.select(
            "code", F.col("code").alias("item"), "bottler", "bg", "dw_dt", "value"
        )
        .unionByName(channel_rows)
        .withColumn("channel", F.lit("Total / 所有渠道"))
        .withColumn("fact", F.lit("score"))
        .withColumn("bottler_sort", F.col("bottler"))
        .withColumn("bg_sort", F.col("bg"))
        .withColumn("channel_sort", F.lit("00_T"))
    )
    return frame


@register(
    "trgx_path_ops",
    oracle="""
    WITH base AS (
      SELECT r.r_name, n.n_name, count(*) AS n_customers
      FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    )
    SELECT r_name AS path_prefix_1, n_name AS path_suffix_1, n_customers
    FROM base WHERE r_name = 'EUROPE'
    """,
    doc="trgx tree algebra on the canonical (path, metrics) long format "
    "(SURVEY §1.2): wildcard path match (mlvar:73-95), split-at "
    "(trgx.clj:246-247) — array ops, no tree type, no UDF.",
)
def trgx_path_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.plans.trgx import match_path, path_col, split_at_depth

    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    base = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"))
        .select(path_col(F.col("r_name"), F.col("n_name")).alias("path"), "n_customers")
    )
    matched = base.where(match_path(F.col("path"), ["EUROPE", "*"]))
    split = split_at_depth(matched, 1)
    return split.select(
        F.element_at("path_prefix", 1).alias("path_prefix_1"),
        F.element_at("path_suffix", 1).alias("path_suffix_1"),
        "n_customers",
    )


@register(
    "trgx_nested_json",
    oracle="""
    WITH base AS (
      SELECT r.r_name, n.n_name,
             CAST(round(sum(CAST(c.c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS balance,
             count(*) AS n_customers
      FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    )
    SELECT r_name,
           '{' || string_agg(
             '"' || n_name || '":{"balance":'
             || CAST(CAST(balance AS DECIMAL(18,2)) AS VARCHAR)
             || ',"n_customers":' || CAST(n_customers AS VARCHAR) || '}',
             ',' ORDER BY n_name) || '}' AS tree_json
    FROM base GROUP BY r_name
    """,
    doc="A7 tr-dimension-metrics → nested JSON (trgx.clj:72-79): leaf-to-"
    "root staged fold (nest_json), deterministic key order — the report "
    "payload and the mlvar tree rollup (mlvar:80-132) in one operator.",
)
def trgx_nested_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.plans.trgx import metrics_json, nest_json

    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    base = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            dround(F.sum(money(F.col("c_acctbal")))).alias("balance"),
            F.count("*").alias("n_customers"),
        )
    )
    leaf = metrics_json(
        {
            "balance": F.col("balance").cast("decimal(18,2)"),
            "n_customers": F.col("n_customers"),
        }
    )
    return nest_json(base, group_cols=["r_name"], level_cols=["n_name"], leaf_json=leaf)


#: plan-time config skeleton for trgx_config_attach — the shape of
#: conf.trgx_cocacola (trgx.clj:198-201): labels carry "[ID]描述" node ids,
#: config DATA holds per-node weights, and the root's BRANCH groups are
#: merged into CHILDREN by latest-trgx-merge (trgx.clj:203-210).
_TRGX_SKELETON = {
    "[KPI]score": {
        "DATA": {"c_total_score": 100.0},
        "BRANCH": {
            "main": {
                "GROUP-A": {
                    "CHILDREN": {
                        "[BUILDING]建材": {"DATA": {"c_weight": 0.30}},
                        "[AUTOMOBILE]汽车": {"DATA": {"c_weight": 0.20}},
                    }
                },
                "GROUP-B": {
                    "CHILDREN": {
                        "[MACHINERY]机械": {"DATA": {"c_weight": 0.25}},
                    }
                },
            },
            "extra": {
                "GROUP-C": {
                    "CHILDREN": {
                        "[FURNITURE]家具": {"DATA": {"c_weight": 0.15}},
                        "[HOUSEHOLD]家庭": {"DATA": {"c_weight": 0.10}},
                    }
                },
            },
        },
    }
}

#: the path filter the query applies: exactly 3 levels, group label within
#: the inclusive string range GROUP-A..GROUP-B, any leaf — subtree's
#: ``[:range]`` + ``"*"`` algebra (d_bolome_user_order_stat_new2017-03-10.clj:73-96)
_TRGX_ATTACH_PATTERN = ("[KPI]score", ("range", "GROUP-A", "GROUP-B"), "*")


def _trgx_attach_oracle_sql() -> str:
    """Oracle derived from the SAME skeleton literal the Spark query
    broadcasts (so the two can't drift): flatten to (node_id, path, weight)
    rows, apply the range/wildcard pattern in Python (the skeleton is
    plan-time config), and join in SQL."""
    from etl_cascalog_spark.plans.trgx import node_id, merge_branches, skeleton_paths

    skel = merge_branches(_TRGX_SKELETON, "[KPI]score")
    root, grp_rng, _ = _TRGX_ATTACH_PATTERN
    rows = [
        (node_id(p[-1]), "/".join(p), d["c_weight"])
        for p, d in skeleton_paths(skel)
        if len(p) == 3 and p[0] == root and grp_rng[1] <= p[1] <= grp_rng[2]
    ]
    values = ", ".join(
        f"('{nid}', '{pth}', CAST({w} AS DECIMAL(4,2)))" for nid, pth, w in rows
    )
    return f"""
    WITH skel(node_id, path_str, c_weight) AS (VALUES {values}),
    agg AS (
      SELECT c_nationkey AS nationkey, c_mktsegment AS segment,
             CAST(round(sum(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DECIMAL(18,2)) AS value
      FROM customer GROUP BY 1, 2
    )
    SELECT nationkey, path_str, CAST(c_weight AS DOUBLE) AS c_weight,
           CAST(value AS DOUBLE) AS value,
           CAST(round(value * c_weight, 2) AS DOUBLE) AS weighted
    FROM agg JOIN skel ON segment = node_id
    """


@register(
    "trgx_config_attach",
    oracle=_trgx_attach_oracle_sql(),
    doc="kv->trgx config-skeleton attach (trgx.clj:51-55,198-210): grouped "
    "(id, value) rows grafted onto a broadcast plan-time skeleton by "
    "pattern-matched node id, after latest-trgx-merge BRANCH flattening; "
    "the attached paths then filtered with the subtree [:range lo hi]/'*' "
    "algebra and scored by the node's config weight. The skeleton is "
    "config-sized → broadcast; the data side never shuffles for the graft.",
)
def trgx_config_attach(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.plans.trgx import (
        attach_kv,
        match_path,
        merge_branches,
        skeleton_df,
    )

    skel = skeleton_df(spark, merge_branches(_TRGX_SKELETON, "[KPI]score"))
    cust = read_table(spark, sf_dir, "customer")
    data = cust.groupBy(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("segment"),
    ).agg(dround(F.sum(money(F.col("c_acctbal")))).cast("decimal(18,2)").alias("value"))
    attached = attach_kv(data, skel, "segment")
    matched = attached.where(match_path(F.col("path"), list(_TRGX_ATTACH_PATTERN)))
    w = F.element_at(F.col("conf"), "c_weight").cast("decimal(4,2)")
    return matched.select(
        "nationkey",
        F.array_join(F.col("path"), "/").alias("path_str"),
        w.cast("double").alias("c_weight"),
        F.col("value").cast("double").alias("value"),
        dround(F.col("value") * w).alias("weighted"),
    )


@register(
    "top_k_limit",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    doc="O1 first-n with sort (c/first-n, m_cocacola_score_bottler_ranking"
    ".clj:63): global ordered limit — Spark runs it as a per-partition "
    "TakeOrdered + driver merge, no full sort.",
)
def top_k_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "json_extraction",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_value,
           '{"event_type":"' || event_type || '","k":'
             || CAST(CAST(json_extract(props, '$.k') AS BIGINT) AS VARCHAR) || '}' AS enriched
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS BIGINT) > 90
    """,
    doc="X8 JSON surface (pair-edn->json trgx.clj:78-79, manual JSON build "
    "m_cocacola_gt_score_deep_dive.clj:36-37): from_json with explicit "
    "schema on scan, deterministic JSON re-assembly at the sink. The "
    "engine's replacement for EDN-string columns (SURVEY §1.3).",
)
def json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    events = read_table(spark, sf_dir, "events")
    parsed = events.select(
        "event_id",
        "event_type",
        F.from_json(F.col("props"), T.StructType([T.StructField("k", T.LongType())]))["k"].alias("k_value"),
    )
    return parsed.where(F.col("k_value") > 90).select(
        "event_id",
        "k_value",
        F.concat(
            F.lit('{"event_type":"'),
            F.col("event_type"),
            F.lit('","k":'),
            F.col("k_value").cast("string"),
            F.lit("}"),
        ).alias("enriched"),
    )


@register(
    "cube_totals",
    oracle="""
    SELECT coalesce(o_orderpriority, 'ALL') AS priority,
           coalesce(o_orderstatus, 'ALL') AS status,
           count(*) AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue
    FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
    doc="A12 grouping sets, cube flavor: all dimension combinations in one "
    "shuffle — replaces the reference's query-per-variant unions.",
)
def cube_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            dround(F.sum(money(F.col("o_totalprice")))).alias("revenue"),
        )
        .select(
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            "n",
            "revenue",
        )
    )


@register(
    "pivot_map_max",
    oracle="""
    WITH b AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(round(sum(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS v
      FROM customer GROUP BY 1, 2
    )
    SELECT c_nationkey,
           max(v) AS max_over_segments,
           CAST(round(sum(CAST(v AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
    FROM b GROUP BY c_nationkey
    """,
    doc="A10: max over an entire group's pivot map — "
    "``(->> kv vals (apply max))`` (m_cocacola_score_channel.clj:55) as "
    "array_max(map_values(...)) on the already-pivoted row (no second "
    "shuffle vs. the naive re-aggregation).",
)
def pivot_map_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.aggregates import grouped_pivot

    cust = read_table(spark, sf_dir, "customer")
    b = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        dround(F.sum(money(F.col("c_acctbal")))).alias("v")
    )
    pivoted = grouped_pivot(b, ["c_nationkey"], F.col("c_mktsegment"), F.col("v"), out_col="kv")
    vals = F.map_values(F.col("kv"))
    # decimal accumulator: order-independent exact sum (map iteration order
    # must not leak into a float result)
    # accumulator at decimal(38,2): (38,2)+(18,2) saturates back to (38,2),
    # so the fold's merge type equals the accumulator type
    total = F.aggregate(
        vals,
        F.lit(0).cast("decimal(38,2)"),
        lambda acc, v: acc + v.cast("decimal(18,2)"),
    )
    return pivoted.select(
        "c_nationkey",
        F.array_max(vals).alias("max_over_segments"),
        F.round(total, 2).cast("double").alias("total"),
    )


@register(
    "config_broadcast_lookup",
    oracle="""
    SELECT n.n_nationkey, n.n_name, r.r_name AS region_name
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
    doc="J5: plan-time config fetch baked into the plan as a literal map "
    "(latest-trgx-merge trgx.clj:198-207) — the region lookup costs zero "
    "joins at runtime; the oracle states the equivalent relational join.",
)
def config_broadcast_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.projections import broadcast_config_map

    region = read_table(spark, sf_dir, "region")
    nation = read_table(spark, sf_dir, "nation")
    lookup = broadcast_config_map(spark, region, "r_regionkey", "r_name")
    return nation.select(
        "n_nationkey",
        "n_name",
        F.element_at(lookup, F.col("n_regionkey")).alias("region_name"),
    )


@register(
    "others_share",
    oracle="""
    WITH shares AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(round(100.0 * count(*) / sum(count(*)) OVER (PARTITION BY c_nationkey), 2)
                  AS DECIMAL(8,2)) AS share
      FROM customer GROUP BY 1, 2
    ), named AS (
      SELECT c_nationkey, c_mktsegment AS segment, CAST(share AS DOUBLE) AS share
      FROM shares WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
      UNION ALL
      SELECT c_nationkey, 'Others' AS segment,
             CAST(100 - sum(CASE WHEN c_mktsegment IN ('BUILDING','AUTOMOBILE')
                                 THEN share ELSE CAST(0 AS DECIMAL(8,2)) END) AS DOUBLE) AS share
      FROM shares GROUP BY c_nationkey
    )
    SELECT * FROM named
    """,
    doc='X5/O3: the SOVI "Others = 100 − Σ(named shares)" computation '
    "(m_cocacola_sovi_brand.clj:46-48): named rows pass through, the "
    "remainder becomes a synthetic Others row, unioned into one sink — "
    "decimal arithmetic keeps the remainder exact.",
)
def others_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    named_set = ["BUILDING", "AUTOMOBILE"]
    shares = (
        cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "share",
            F.round(
                F.lit(100.0) * F.col("cnt")
                / F.sum("cnt").over(Window.partitionBy("c_nationkey")),
                2,
            ).cast("decimal(8,2)"),
        )
    )
    named = shares.where(F.col("c_mktsegment").isin(named_set)).select(
        "c_nationkey",
        F.col("c_mktsegment").alias("segment"),
        F.col("share").cast("double").alias("share"),
    )
    others = (
        shares.groupBy("c_nationkey")
        .agg(
            (
                F.lit(100)
                - F.sum(
                    F.when(F.col("c_mktsegment").isin(named_set), F.col("share")).otherwise(
                        F.lit(0).cast("decimal(8,2)")
                    )
                )
            )
            .cast("double")
            .alias("share")
        )
        .select("c_nationkey", F.lit("Others").alias("segment"), "share")
    )
    return named.unionByName(others)


@register(
    "sql_api_query",
    oracle="""
    SELECT o.o_orderpriority AS priority,
           count(DISTINCT o.o_custkey) AS n_customers,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
    doc="The SQL API surface: identical Catalyst plan whether built via "
    "DataFrame combinators or spark.sql over registered views — the "
    "engine exposes both (S2 + E3).",
)
def sql_api_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.io import read_table as _rt

    _rt(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    _rt(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT o.o_orderpriority AS priority,
               count(DISTINCT o.o_custkey) AS n_customers,
               CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                              * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
        FROM v_orders o JOIN v_lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1
        """
    )


@register(
    "ods_merge_pipeline",
    oracle="""
    WITH stg AS (
      SELECT s_suppkey AS src_id, s_name AS name, s_acctbal AS bal
      FROM supplier WHERE s_suppkey % 2 = 1
    ), ods AS (
      SELECT s_suppkey AS src_id,
             CAST(row_number() OVER (ORDER BY s_suppkey) AS BIGINT) AS dw_id,
             s_name || '_old' AS name, s_acctbal AS bal
      FROM supplier WHERE s_suppkey <= 6
    ), merged AS (
      SELECT coalesce(s.src_id, o.src_id) AS src_id,
             o.dw_id,
             coalesce(s.name, o.name) AS name,
             coalesce(s.bal, o.bal) AS bal
      FROM stg s FULL OUTER JOIN ods o ON s.src_id = o.src_id
    ), max_id AS (SELECT coalesce(max(dw_id), 0) AS m FROM ods)
    SELECT src_id,
           coalesce(dw_id, (SELECT m FROM max_id)
                    + row_number() OVER (PARTITION BY (dw_id IS NULL) ORDER BY src_id)) AS dw_id,
           name, bal
    FROM merged
    """,
    doc="E2: the stg→ods warehouse merge end-to-end "
    "(ods/d_bolome_show.clj:39-83): full-outer merge with or-tuple "
    "coalescing (J3), surrogate-id continuation from max(dw_id) for "
    "new keys only (A8/I3) — parallel window, not the reference's "
    "single-reducer group (:51).",
)
def ods_merge_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from etl_cascalog_spark.operators.joins import full_outer_coalesce
    from etl_cascalog_spark.operators.surrogate import current_max_id

    supp = read_table(spark, sf_dir, "supplier")
    stg = supp.where(F.col("s_suppkey") % 2 == 1).select(
        F.col("s_suppkey").alias("src_id"),
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("bal"),
    )
    ods = supp.where(F.col("s_suppkey") <= 6).select(
        F.col("s_suppkey").alias("src_id"),
        F.row_number().over(W.orderBy("s_suppkey")).cast("long").alias("dw_id"),
        F.concat(F.col("s_name"), F.lit("_old")).alias("name"),
        F.col("s_acctbal").alias("bal"),
    )
    merged = full_outer_coalesce(
        stg, ods.select("src_id", "name", "bal"), on=["src_id"], prefer="left"
    ).join(ods.select("src_id", "dw_id"), on="src_id", how="left")
    max_id = current_max_id(ods, "dw_id")
    new_id = F.row_number().over(
        W.partitionBy(F.col("dw_id").isNull()).orderBy("src_id")
    )
    return merged.select(
        "src_id",
        F.coalesce(F.col("dw_id"), (F.lit(max_id) + new_id).cast("long")).alias("dw_id"),
        "name",
        "bal",
    )


@register(
    "star_feature_assembly",
    oracle="""
    SELECT l.l_orderkey AS order_id, l.l_linenumber AS line_no,
           o.o_custkey AS user_id,
           p.p_brand AS product_brand,
           coalesce(s.s_name, 'NO_SUPPLIER') AS supplier_name,
           CAST(round(CAST(l.l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue,
           CASE WHEN l.l_quantity >= 25 THEN 1 ELSE 0 END AS bulk_flag,
           CASE WHEN o.o_orderstatus = 'F' THEN 'true' ELSE 'false' END AS order_final,
           CASE WHEN l.l_returnflag = 'R' THEN 'true' ELSE 'false' END AS order_returned
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN part p   ON l.l_partkey = p.p_partkey
    LEFT JOIN (SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey % 3 != 0) s
      ON l.l_suppkey = s.s_suppkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    """,
    doc="mlin feature assembly (mlin/d_bolome_user_order.clj:67-92): 4-way "
    "star join (J1) with a may-miss lookup (J2 !!var), decimal revenue "
    "math (:78-80), cif/nvl2 bool-as-string flags (:45-49) — the ML "
    "feature-table shape. Dims broadcast; fact shuffles once.",
)
def star_feature_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.functions.conditionals import cif
    from etl_cascalog_spark.operators.joins import left_lookup, star_join

    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    supp = (
        read_table(spark, sf_dir, "supplier")
        .where(F.col("s_suppkey") % 3 != 0)
        .select("s_suppkey", "s_name")
    )
    # part and supplier both scale with the corpus — no mandatory hints
    joined = star_join(
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner"),
        [(part, [F.col("l_partkey") == F.col("p_partkey")], "inner", False)],
    )
    joined = left_lookup(
        joined, supp, on=[F.col("l_suppkey") == F.col("s_suppkey")], broadcast=False
    )
    price = money(F.col("l_extendedprice"))
    disc = money(F.col("l_discount"), "decimal(4,2)")
    return joined.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("line_no"),
        F.col("o_custkey").alias("user_id"),
        F.col("p_brand").alias("product_brand"),
        F.coalesce(F.col("s_name"), F.lit("NO_SUPPLIER")).alias("supplier_name"),
        dround(price * (F.lit(1) - disc)).alias("revenue"),
        (F.col("l_quantity") >= 25).cast("int").alias("bulk_flag"),
        cif(F.col("o_orderstatus") == "F", F.lit("true"), F.lit("false")).alias("order_final"),
        cif(F.col("l_returnflag") == "R", F.lit("true"), F.lit("false")).alias("order_returned"),
    )


@register(
    "delta_shadow_merge",
    oracle="""
    WITH live AS (
      SELECT o_custkey AS k,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total,
             count(*) AS n
      FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      GROUP BY 1
    ), delta AS (
      SELECT o_custkey AS k,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total,
             count(*) AS n
      FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
      GROUP BY 1
    )
    SELECT coalesce(d.k, l.k) AS k,
           CAST(round(coalesce(l.total, 0) + coalesce(d.total, 0), 2) AS DOUBLE) AS total,
           coalesce(l.n, 0) + coalesce(d.n, 0) AS n
    FROM delta d FULL OUTER JOIN live l ON d.k = l.k
    """,
    doc="I4: delta → shadow → live aggregate maintenance "
    "(model/d_bolome_order_show_debut.clj:61-99): the delta window's "
    "aggregate full-outer-merged into the live aggregate with additive "
    "combine fns (merge-with, :91). Only delta + touched keys shuffle — "
    "never the full history.",
)
def delta_shadow_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.incremental import delta_shadow_merge

    orders = read_table(spark, sf_dir, "orders")
    cutoff = F.lit("1999-01-01 00:00:00").cast("timestamp")

    def agg(df):
        return df.groupBy(F.col("o_custkey").alias("k")).agg(
            dround(F.sum(money(F.col("o_totalprice")))).alias("total"),
            F.count("*").alias("n"),
        )

    live = agg(orders.where(F.col("o_orderdate") < cutoff))
    delta = agg(orders.where(F.col("o_orderdate") >= cutoff))
    merged = delta_shadow_merge(
        live,
        delta,
        keys=["k"],
        combine={
            "total": lambda l, d: F.round(
                F.coalesce(l, F.lit(0.0)) + F.coalesce(d, F.lit(0.0)), 2
            ).cast("double"),
            "n": lambda l, d: F.coalesce(l, F.lit(0)) + F.coalesce(d, F.lit(0)),
        },
    )
    return merged


# ---------------------------------------------------------------------------
# E. LLM training-data pipeline surface (beyond-reference; BASELINE.json
#    north star): text analysis, dedup tiers, similarity search, multimodal
# ---------------------------------------------------------------------------

_NORM_SQL = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"


def _url_canonical_oracle_sql() -> str:
    """DuckDB mirror of operators.text.canonicalize_url over the same
    deterministically-derived messy URLs. The strip list AND the
    percent-normalization chain are interpolated from the operator's own
    constants (TRACKING_PARAM_PREFIXES, pct_normalize_sql — the
    max_bucket lesson: an oracle must share the operator's constants,
    not repeat them). Mirrors the scheme-conditional default-port strip
    and the malformed-input passthrough guard."""
    from etl_cascalog_spark.operators.text import (
        TRACKING_PARAM_PREFIXES,
        pct_normalize_sql,
    )

    not_tracking = " OR ".join(
        f"starts_with(x, '{p}')" for p in TRACKING_PARAM_PREFIXES
    )
    rest_norm = pct_normalize_sql(
        r"regexp_extract(no_frag, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*(.*)$', 1)"
    )
    return rf"""
    WITH raw AS (
      SELECT doc_id,
             CASE WHEN doc_id % 13 = 9 THEN
               concat('relative/doc-', CAST(doc_id % 17 AS VARCHAR))
             ELSE concat(
               CASE WHEN doc_id % 11 < 3 THEN 'http://' ELSE 'https://' END,
               CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END,
               CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END,
               '.Example.COM',
               CASE WHEN doc_id % 3 = 0 THEN ':443'
                    WHEN doc_id % 3 = 1 THEN ':80' ELSE '' END,
               '/docs/', CAST(doc_id % 25 AS VARCHAR),
               CASE WHEN doc_id % 6 = 0 THEN '~u'
                    WHEN doc_id % 6 = 1 THEN '%7Eu'
                    WHEN doc_id % 6 = 2 THEN '%7eu' ELSE '' END,
               CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END,
               '?utm_source=feed&page=', CAST(doc_id % 4 AS VARCHAR),
               CASE WHEN doc_id % 7 = 0 THEN '&utm_campaign=x' ELSE '' END,
               CASE WHEN doc_id % 8 = 0 THEN '&x=a%2Fb'
                    WHEN doc_id % 8 = 4 THEN '&x=a%2fb' ELSE '' END,
               '#sec', CAST(doc_id % 9 AS VARCHAR)
             ) END AS url
      FROM documents
    ),
    parts AS (
      SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS no_frag FROM raw
    ),
    split_parts AS (
      SELECT doc_id, url,
        lower(regexp_extract(no_frag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        regexp_replace(
          lower(regexp_extract(no_frag, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)', 1)),
          '^www\.', '') AS host0,
        {rest_norm} AS rest
      FROM parts
    ),
    ported AS (
      SELECT doc_id, url, scheme, rest,
        CASE WHEN scheme = 'http' THEN regexp_replace(host0, ':80$', '')
             WHEN scheme = 'https' THEN regexp_replace(host0, ':443$', '')
             ELSE host0 END AS host
      FROM split_parts
    ),
    pq AS (
      SELECT doc_id, url, scheme, host,
        CASE WHEN p1 = '' THEN '/'
             WHEN length(p1) > 1 AND p1 LIKE '%/' THEN substring(p1, 1, length(p1) - 1)
             ELSE p1 END AS path,
        array_to_string(
          list_sort(list_filter(string_split(regexp_extract(rest, '\?(.*)$', 1), '&'),
            x -> x <> '' AND NOT ({not_tracking}))), '&') AS qstr
      FROM (SELECT *, regexp_extract(rest, '^([^?]*)', 1) AS p1 FROM ported)
    ),
    canon AS (
      SELECT doc_id,
        CASE WHEN scheme = '' THEN url ELSE
          concat(scheme, '://', host, path,
                 CASE WHEN qstr = '' THEN '' ELSE concat('?', qstr) END)
        END AS canonical_url
      FROM pq
    )
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_variants,
           CAST(min(doc_id) AS BIGINT) AS keep_id
    FROM canon GROUP BY 1
    """


@register(
    "url_canonical_dedup",
    oracle=_url_canonical_oracle_sql(),
    doc="URL canonicalization + dedup (beyond-reference; the first dedup "
    "tier of every web-corpus pipeline — two crawls of one page differ in "
    "host case, default port, fragment, tracking params, param order, "
    "trailing slash, percent-encoding): canonicalize_url is a pure Column "
    "expression chain (RE2-safe regexes, higher-order filter/sort on the "
    "query params — map-side, codegen'd, no UDF), then one "
    "groupBy(canonical) keeping min(doc_id) + the variant count. The "
    "messy URLs are derived deterministically from (doc_id, source) so "
    "the oracle constructs the identical input; the derivation crosses "
    "http/https with :80/:443 (only the scheme's OWN default port may be "
    "stripped), mixes ~u / %7Eu / %7eu and %2F / %2f encodings, and "
    "includes scheme-less rows that must pass through unchanged. At "
    "100 TB: one uniform-key shuffle on the canonical string — the "
    "cheapest dedup pass there is, which is why production pipelines "
    "run it before any content hashing.",
)
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.io import ensure_min_parallelism
    from etl_cascalog_spark.operators.text import canonicalize_url

    # the canonicalization chain (regex splits + 78 percent-normalization
    # string ops per row) is compute-heavy map work — parallel BEFORE the
    # fan-out, or a 2-file sf1 scan runs it on 2 of 32 cores (caught by
    # tools/parallelism_lint.py at sf1: 6.6 s mean-task 2-task stage)
    docs = ensure_min_parallelism(
        read_table(spark, sf_dir, "documents"), "doc_id"
    )
    d = F.col("doc_id")
    well_formed = F.concat(
        F.when(d % 11 < 3, F.lit("http://")).otherwise(F.lit("https://")),
        F.when(d % 2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.when(d % 2 == 0, F.upper("source")).otherwise(F.col("source")),
        F.lit(".Example.COM"),
        F.when(d % 3 == 0, F.lit(":443"))
        .when(d % 3 == 1, F.lit(":80"))
        .otherwise(F.lit("")),
        F.lit("/docs/"), (d % 25).cast("string"),
        F.when(d % 6 == 0, F.lit("~u"))
        .when(d % 6 == 1, F.lit("%7Eu"))
        .when(d % 6 == 2, F.lit("%7eu"))
        .otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&page="), (d % 4).cast("string"),
        F.when(d % 7 == 0, F.lit("&utm_campaign=x")).otherwise(F.lit("")),
        F.when(d % 8 == 0, F.lit("&x=a%2Fb"))
        .when(d % 8 == 4, F.lit("&x=a%2fb"))
        .otherwise(F.lit("")),
        F.lit("#sec"), (d % 9).cast("string"),
    )
    url = F.when(
        d % 13 == 9,
        F.concat(F.lit("relative/doc-"), (d % 17).cast("string")),
    ).otherwise(well_formed)
    return (
        docs.select("doc_id", canonicalize_url(url).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").cast("long").alias("n_variants"),
            F.min("doc_id").cast("long").alias("keep_id"),
        )
    )


@register(
    "doc_fingerprint",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
    ), gr AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                            i -> md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS h
      FROM tok WHERE len(w) >= 3
    ), wins AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(h) - 3, 1) + 1),
                                          i -> list_min(h[i:i+3]))) AS fps
      FROM gr WHERE len(h) > 0
    )
    SELECT doc_id, unnest(fps) AS fp FROM wins
    """,
    doc="Winnowing rolling-hash document fingerprints (MOSS scheme): "
    "positional 3-gram md5s, window-of-4 minima, distinct — guarantees a "
    "shared fingerprint for any ≥6-token overlap. Map-side per row; the "
    "inverted fp index is one groupBy away.",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.text import winnow_fingerprint_rows

    docs = read_table(spark, sf_dir, "documents")
    rows = winnow_fingerprint_rows(docs, "doc_id", "text", k=3, w=4)
    return rows.select(F.col("doc").alias("doc_id"), "fp")
#: tokenize + distinct 3-gram shingles — the shared base of every
#: shingle-family oracle (jaccard, minhash verification, simhash sketch)
_SHINGLE_BASE_CTE = f"""
    tok AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      FROM tok
    )
"""

_SHINGLE_CTE = f"""
    {_SHINGLE_BASE_CTE},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jpairs AS MATERIALIZED (
      SELECT doc_a, doc_b,
             round(c * 1.0 / (sa.n_sh + sb.n_sh - c), 4) AS jaccard
      FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE c * 1.0 / (sa.n_sh + sb.n_sh - c) >= 0.7
    )
"""
# jpairs is MATERIALIZED: oracles that reference it more than once
# (cluster_keyed_split_audit joins it again after the CC labels) must not
# re-derive the shingle self-join per reference — the double evaluation
# exhausted sf1 spill disk where a single pass needs none.

#: symmetrized pair-graph edges for the CC oracles. MATERIALIZED: the
#: unrolled label rounds below reference it once per round — inlined, a
#: DuckDB 1.0 planner would re-derive the whole shingle join per round.
_CC_EDGES_CTE = """e AS MATERIALIZED (
      SELECT doc_a AS s, doc_b AS t FROM jpairs
      UNION
      SELECT doc_b, doc_a FROM jpairs
    )"""


def _cc_labels_sql(edge_cte: str = "e", rounds: int = 6, out: str = "cc_labels") -> str:
    """Connected-component labels ``(node, label=min id of component)`` as
    UNROLLED min-label propagation WITH pointer jumping — the sf1-affordable
    replacement (VERDICT r10 #3) for the recursive-CTE transitive closure,
    whose (source, reachable) pair set is quadratic in component size and
    exhausted the spill disk at sf1. DuckDB 1.0-portable: plain chained
    MATERIALIZED CTEs, no ``WITH RECURSIVE … USING KEY`` (1.3+).

    Each round takes, per node, the min over {{own label}} ∪ {{neighbor
    labels}} ∪ {{label's label}} (the pointer jump squares effective
    propagation distance, so ``rounds`` covers component diameters up to
    ~2^rounds — observed near-dup fixpoints land in 1-2 rounds). The
    result is SELF-VERIFYING, never silently stale: the last two rounds
    must agree (a deterministic monotone map with f(x)=x is at its
    fixpoint, where every label is exactly min(component) — the identical
    value ``least(s, min(t)) … FROM reach`` computed), or the oracle
    raises via ``error()`` instead of returning non-fixpoint labels."""
    parts = [
        f"cc_l0 AS MATERIALIZED (SELECT s AS node, least(s, min(t)) AS label"
        f" FROM {edge_cte} GROUP BY s)"
    ]
    for i in range(1, rounds + 1):
        p = f"cc_l{i - 1}"
        parts.append(
            f"""cc_l{i} AS MATERIALIZED (
      SELECT node, min(label) AS label FROM (
        SELECT node, label FROM {p}
        UNION ALL
        SELECT {edge_cte}.s AS node, l.label FROM {edge_cte}
        JOIN {p} l ON l.node = {edge_cte}.t
        UNION ALL
        SELECT a.node, b.label FROM {p} a JOIN {p} b ON b.node = a.label
      ) GROUP BY node
    )"""
        )
    parts.append(
        f"""cc_conv AS (
      SELECT count(*) AS n FROM cc_l{rounds - 1} a JOIN cc_l{rounds} b
      ON a.node = b.node AND a.label <> b.label
    )"""
    )
    parts.append(
        f"""{out} AS (
      SELECT node,
             CASE WHEN (SELECT n FROM cc_conv) = 0 THEN label
                  ELSE error('cc oracle: label propagation not converged in {rounds} rounds — raise rounds in catalog._cc_labels_sql')
             END AS label
      FROM cc_l{rounds}
    )"""
    )
    return ",\n    ".join(parts)


@register(
    "text_statistics",
    oracle="""
    SELECT doc_id,
           length(text) AS n_chars_m,
           CAST(len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS BIGINT) AS n_tokens_ws,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens_bpe,
           round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text), 6) AS alpha_ratio,
           round(0.4 * least(length(text) / 500.0, 1.0)
               + 0.4 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text))
               + 0.2 * least(len(regexp_extract_all(text, '\\b(the|a|of|and|to|in|is)\\b')) * 5.0
                             / len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')), 1.0), 6) AS quality
    FROM documents
    """,
    doc="Text analysis (beyond-reference): whitespace + BPE-ish token "
    "counts, alpha ratio, composite quality score — all JVM-side "
    "regex/arithmetic, no UDFs, embarrassingly parallel at 100 TB.",
)
def text_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.text import (
        quality_features,
        quality_score,
        token_count_bpe,
        token_count_ws,
    )

    docs = read_table(spark, sf_dir, "documents")
    t = F.col("text")
    feats = quality_features(t)
    return docs.select(
        "doc_id",
        F.length(t).cast("long").alias("n_chars_m"),
        token_count_ws(t).alias("n_tokens_ws"),
        token_count_bpe(t).alias("n_tokens_bpe"),
        F.round(feats["alpha_ratio"], 6).alias("alpha_ratio"),
        quality_score(t).alias("quality"),
    )


@register(
    "lang_id_heuristic",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is)\\b')) AS BIGINT) AS s_en,
             CAST(len(regexp_extract_all(lower(text), '\\b(el|la|los|que|de)\\b')) AS BIGINT) AS s_es,
             CAST(len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist)\\b')) AS BIGINT) AS s_de,
             CAST(len(regexp_extract_all(lower(text), '\\b(le|les|des|est|une)\\b')) AS BIGINT) AS s_fr,
             CAST(len(regexp_extract_all(lower(text), '[一-鿿]')) AS BIGINT) AS s_zh
      FROM documents
    )
    SELECT doc_id, s_en, s_es, s_de, s_fr, s_zh,
           CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh AND s_en > 0 THEN 'en'
                WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh AND s_es > 0 THEN 'es'
                WHEN s_de >= s_fr AND s_de >= s_zh AND s_de > 0 THEN 'de'
                WHEN s_fr >= s_zh AND s_fr > 0 THEN 'fr'
                WHEN s_zh > 0 THEN 'zh'
                ELSE 'und' END AS lang_pred
    FROM s
    """,
    doc="Language-ID heuristic (beyond-reference): per-language stopword/"
    "script marker counts, argmax with fixed-priority tie-break.",
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.text import lang_id, lang_scores

    docs = read_table(spark, sf_dir, "documents")
    scores = lang_scores(F.lower(F.col("text")))
    return docs.select(
        "doc_id",
        *[scores[lang].alias(f"s_{lang}") for lang in ("en", "es", "de", "fr", "zh")],
        lang_id(F.col("text")).alias("lang_pred"),
    )


@register(
    "exact_dedup_docs",
    oracle=f"""
    SELECT md5({_NORM_SQL}) AS fp,
           min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
    doc="Exact dedup (beyond-reference): md5(normalized text) hash-groupBy, "
    "min-id representative. Uniform digest key → skew-free shuffle at "
    "100 TB.",
)
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.dedup import exact_dedup

    docs = read_table(spark, sf_dir, "documents")
    return exact_dedup(docs, "doc_id", "text")


@register(
    "ngram_jaccard_dedup",
    oracle=f"WITH {_SHINGLE_CTE} SELECT doc_a, doc_b, jaccard FROM jpairs",
    doc="Exact 3-gram Jaccard near-dup pairs ≥ 0.7 via inverted shingle "
    "index (explode → equi-join → pair counts) — the correctness "
    "baseline for MinHash.",
)
def ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.dedup import jaccard_pairs

    docs = read_table(spark, sf_dir, "documents")
    return jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.7)


def _minhash_oracle_sql(
    num_hashes: int = 64, bands: int = 16, max_bucket: int | None = None
) -> str:
    """DuckDB oracle for minhash_lsh_dedup: mirrors the ENTIRE pipeline —
    md5-based 32-bit shingle hash (both engines emit identical lowercase
    hex; DuckDB decodes via CAST('0x'||hex AS BIGINT), Spark via conv),
    the same 64 affine permutations (literal (a,b) pairs from
    _perm_params), band min-tuples as injective string keys, the
    max_bucket=500 skew cap, then exact-Jaccard verification of exactly
    the banded candidates. Asserting equality with the EXACT pair set
    instead would be wrong by design: banding recall at j=0.7 is 0.9998
    and the sf1 corpus holds ~250k qualifying pairs, so ~5 misses are
    EXPECTED — the round-9 sf1 sweep caught precisely that."""
    from etl_cascalog_spark.operators.dedup import (
        DEFAULT_MAX_BUCKET,
        _perm_params,
    )

    # Interpolated, never hardcoded: the cap must be the same constant the
    # operator defaults to, or the oracle mirrors a banding that never ran.
    if max_bucket is None:
        max_bucket = DEFAULT_MAX_BUCKET
    rows = num_hashes // bands
    mins = ",\n             ".join(
        f"min(({a} * h + {b}) % 2147483647) AS mh_{i}"
        for i, (a, b) in enumerate(_perm_params(num_hashes))
    )
    band_sel = "\n      UNION ALL ".join(
        "SELECT doc_id, {bi} AS band, concat_ws('_', {cols}) AS bh FROM sig".format(
            bi=bi,
            cols=", ".join(f"mh_{bi * rows + r}" for r in range(rows)),
        )
        for bi in range(bands)
    )
    return f"""WITH {_SHINGLE_CTE},
    hsh AS (
      SELECT doc_id, CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) AS h
      FROM sh
    ),
    sig AS (SELECT doc_id, {mins} FROM hsh GROUP BY doc_id),
    bandkeys AS ({band_sel}),
    capped AS (
      SELECT doc_id, band, bh FROM (
        SELECT *, count(*) OVER (PARTITION BY band, bh) AS sz FROM bandkeys
      ) WHERE sz <= {max_bucket}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    )
    SELECT j.doc_a, j.doc_b, j.jaccard
    FROM jpairs j JOIN cand USING (doc_a, doc_b)"""


@register(
    "minhash_lsh_dedup",
    oracle=_minhash_oracle_sql(),
    doc="MinHash(64)+LSH(16 bands) near-dup pairs, exact-Jaccard verified — "
    "the 100 TB scale path. The oracle mirrors the banding itself "
    "(md5 portable hash, same permutations, same bucket cap) rather than "
    "asserting equality with the exact pair set: LSH recall at j≥0.7 is "
    "≈0.9998 by construction, and at sf1 (~250k qualifying pairs) the "
    "expected handful of band misses materialized — the exact-equality "
    "oracle was wrong, not the engine. The xxhash64 production path is "
    "the operator default (same convention as simhash_dedup).",
)
def minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.dedup import minhash_lsh_pairs

    docs = read_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        n=3,
        num_hashes=64,
        bands=16,
        threshold=0.7,
        hash_fn="md5",
    )


def _simhash_oracle_sql(banded: bool = False) -> str:
    """DuckDB oracle for simhash_dedup: the sketch hash is md5 (shared by
    both engines, bit-identical lowercase hex), so the 64 sign-sums are
    plain conditional aggregates; candidates need no banding here — the
    band pigeonhole gives EXACT recall at Hamming ≤ bands-1, so all-pairs
    Hamming ≤ 3 is the same set the banded Spark plan emits.

    ``banded=True`` swaps the all-pairs candidate join for the SAME
    16-bit-band equi-join the engine runs (pigeonhole: Hamming ≤ 3 with
    4 bands forces ≥1 identical band, so the result set is IDENTICAL) —
    used by tools/sf1_oracle.py, where all-pairs is O(N²) at 50k docs
    but the banded join stays affordable."""
    digits = ", ".join(
        f"strpos('0123456789abcdef', substr(hx, {i + 1}, 1)) - 1 AS d{i}"
        for i in range(16)
    )
    votes = ", ".join(
        f"SUM(CASE WHEN ((d{b // 4} >> {3 - (b % 4)}) & 1) = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(64)
    )
    bits = ", ".join(f"CASE WHEN v{b} > 0 THEN 1 ELSE 0 END" for b in range(64))
    if banded:
        cand = """
    bands AS (
      SELECT doc_id,
             CAST(g.b AS INT) AS b,
             array_to_string(list_slice(bits, g.b * 16 + 1, g.b * 16 + 16),
                             '') AS bkey
      FROM bits, (SELECT unnest(range(0, 4)) AS b) g
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id
    ),
    pairs AS (
      SELECT c.doc_a, c.doc_b,
             CAST(list_sum(list_transform(range(1, 65),
                  i -> CASE WHEN a.bits[i] != b.bits[i] THEN 1 ELSE 0 END)) AS INTEGER) AS hamming
      FROM cand c
      JOIN bits a ON a.doc_id = c.doc_a
      JOIN bits b ON b.doc_id = c.doc_b
    )"""
    else:
        cand = """
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(list_sum(list_transform(range(1, 65),
                  i -> CASE WHEN a.bits[i] != b.bits[i] THEN 1 ELSE 0 END)) AS INTEGER) AS hamming
      FROM bits a JOIN bits b ON a.doc_id < b.doc_id
    )"""
    return f"""
    WITH {_SHINGLE_BASE_CTE},
    hx AS (SELECT doc_id, md5(s) AS hx FROM sh),
    dig AS (SELECT doc_id, {digits} FROM hx),
    votes AS (SELECT doc_id, {votes} FROM dig GROUP BY doc_id),
    bits AS (SELECT doc_id, [{bits}] AS bits FROM votes),
    {cand}
    SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3
    """


@register(
    "simhash_dedup",
    oracle=_simhash_oracle_sql(),
    doc="SimHash(64-bit) near-dup pairs, Hamming ≤ 3 (exact recall by the "
    "band pigeonhole), candidates from 16-bit bands. The sketch hashes "
    "shingles with md5 so the DuckDB oracle reproduces it exactly.",
)
def simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.dedup import simhash_pairs

    docs = read_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, "doc_id", "text", n=3, max_hamming=3, bands=4)


@register(
    "ann_cosine_topk",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0
    ), c AS (
      SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
    ), scored AS (
      SELECT query_id, neighbor_id,
             list_sum(list_transform(list_zip(qv, cv),
                                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      FROM c CROSS JOIN q
      WHERE query_id != neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, round(cos, 4) AS cos_sim
    FROM ranked WHERE rank <= 5
    """,
    doc="Brute-force cosine top-5 — the ORACLE/EVAL BASELINE, not a scale "
    "path: query subset ⨯ corpus, double-cast sequential-fold dot product "
    "(bit-portable to DuckDB), window top-k. Production scoring is "
    "ann_blas_topk (vectorized) / ann_lsh_topk / ann_ivf_topk (bucketed).",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.similarity import cosine_topk

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return cosine_topk(queries, emb, k=5)


@register(
    "ann_blas_topk",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0
    ), c AS (
      SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
    ), scored AS (
      SELECT query_id, neighbor_id,
             list_sum(list_transform(list_zip(qv, cv),
                                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      FROM c CROSS JOIN q
      WHERE query_id != neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
    doc="Vectorized exact cosine top-5 — the PRODUCTION brute-force scorer: "
    "Arrow-batched mapInPandas, one float64 BLAS matmul per batch, "
    "map-side argpartition partial top-k (shuffle carries batches×|Q|×k "
    "candidate rows, never the score matrix), window merge. Checked on "
    "(query, neighbor, rank) against the exact SQL oracle — BLAS "
    "summation-order noise (~1e-15) cannot flip a rank except on exact "
    "near-ties, and the value columns stay with ann_cosine_topk.",
)
def ann_blas_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.similarity import cosine_topk_blas

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return cosine_topk_blas(queries, emb, k=5).select(
        "query_id", "neighbor_id", "rank"
    )


def _curation_oracle_sql() -> str:
    """Composes the already-verified per-stage oracles: quality + lang
    filters → exact dedup on the normalized-text digest → near-dup losers
    from the survivor-restricted Jaccard pairs."""
    return f"""
    WITH s AS (
      SELECT doc_id, text,
             CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is)\\b')) AS BIGINT) AS s_en,
             CAST(len(regexp_extract_all(lower(text), '\\b(el|la|los|que|de)\\b')) AS BIGINT) AS s_es,
             CAST(len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist)\\b')) AS BIGINT) AS s_de,
             CAST(len(regexp_extract_all(lower(text), '\\b(le|les|des|est|une)\\b')) AS BIGINT) AS s_fr,
             CAST(len(regexp_extract_all(lower(text), '[一-鿿]')) AS BIGINT) AS s_zh,
             round(0.4 * least(length(text) / 500.0, 1.0)
                 + 0.4 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text))
                 + 0.2 * least(len(regexp_extract_all(text, '\\b(the|a|of|and|to|in|is)\\b')) * 5.0
                               / len(string_split({_NORM_SQL}, ' ')), 1.0), 6) AS quality
      FROM documents
    ), e AS (
      SELECT doc_id, text, quality,
             CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh AND s_en > 0 THEN 'en'
                  WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh AND s_es > 0 THEN 'es'
                  WHEN s_de >= s_fr AND s_de >= s_zh AND s_de > 0 THEN 'de'
                  WHEN s_fr >= s_zh AND s_fr > 0 THEN 'fr'
                  WHEN s_zh > 0 THEN 'zh'
                  ELSE 'und' END AS lang
      FROM s
    ), f AS (
      SELECT * FROM e WHERE quality >= 0.5 AND lang = 'en'
    ), d AS (
      SELECT f.*, min(doc_id) OVER (PARTITION BY md5({_NORM_SQL})) AS keep FROM f
    ), surv AS (
      SELECT doc_id, text, lang, quality FROM d WHERE doc_id = keep
    ), tok AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM surv
    ), sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      FROM tok
    ), sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), jp AS (
      SELECT doc_a, doc_b FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE c * 1.0 / (sa.n_sh + sb.n_sh - c) >= 0.7
    ), eg AS MATERIALIZED (
      SELECT doc_a AS s, doc_b AS t FROM jp
      UNION SELECT doc_b, doc_a FROM jp
    ), {_cc_labels_sql("eg")}, losers AS (
      SELECT node AS s FROM cc_labels WHERE label < node
    )
    SELECT doc_id, lang, quality FROM surv
    WHERE doc_id NOT IN (SELECT s FROM losers)
    """


@register(
    "corpus_curation_pipeline",
    oracle=_curation_oracle_sql(),
    doc="The end-to-end training-data curation pass (beyond-reference "
    "flagship composition): quality-score + language-ID filters (map-side "
    "Column exprs) → exact dedup on the normalized digest (window min per "
    "fingerprint) → MinHash+LSH near-dup removal over the survivors "
    "(losers = non-canonical members of each connected component over "
    "verified pairs ≥ 0.7 — pairwise drop-the-larger over-deletes on "
    "chains). One corpus scan feeds everything; the only shuffles are the "
    "digest window, the LSH band join, the per-round component joins, and "
    "the final id-keyed anti join — which deliberately carries NO "
    "broadcast hint (the loser set is proportional to the corpus near-dup "
    "population; AQE broadcasts only when it fits). The shape a 100 TB "
    "curation run wants.",
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.dedup import minhash_lsh_pairs
    from etl_cascalog_spark.operators.text import (
        fingerprint_md5,
        lang_id,
        quality_score,
    )

    # parallel BEFORE the heavy text expressions, cache AFTER them: the
    # quality/lang filter otherwise pushes below the repartition (alias
    # substitution) and re-evaluates both scoring expressions inside the
    # file-split-bounded scan stage (sf1 lint: 2 tasks × 4.4 s). The cache
    # is a pushdown barrier — filters stop at the InMemoryRelation.
    docs = ensure_min_parallelism(
        read_table(spark, sf_dir, "documents"), "doc_id"
    )
    enriched = docs.select(
        "doc_id",
        "text",
        lang_id(F.col("text")).alias("lang"),
        quality_score(F.col("text")).alias("quality"),
    ).cache()
    filtered = enriched.where((F.col("quality") >= 0.5) & (F.col("lang") == "en"))
    w = Window.partitionBy(fingerprint_md5(F.col("text")))
    exact = (
        filtered.withColumn("__keep", F.min("doc_id").over(w))
        .where(F.col("doc_id") == F.col("__keep"))
        .drop("__keep")
        .cache()  # feeds pair generation AND the final anti join
    )
    from etl_cascalog_spark.operators.dedup import connected_components

    pairs = minhash_lsh_pairs(exact, "doc_id", "text", n=3, threshold=0.7)
    # cluster-canonical keep: one survivor per connected component (the
    # pairwise doc_b loser set over-deletes on chains a-b-c). losers is
    # PROPORTIONAL to the corpus near-dup population (30%+ of a web corpus
    # = billions of ids at 100 TB), so it must NOT carry a mandatory
    # broadcast hint — a bare id-keyed anti join lets AQE broadcast at
    # runtime when the side actually fits and shuffle when it doesn't
    # (see SCALE.md "Never force-broadcast the dup population").
    comp = connected_components(pairs)
    losers = comp.where(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id")
    )
    return exact.join(losers, "doc_id", "left_anti").select(
        "doc_id", "lang", "quality"
    )


def _lsh_oracle_sql() -> str:
    """DuckDB oracle for ann_lsh_topk: the hyperplanes are plain literals
    (seeded, fixed), so the exact bucketing is reproducible in SQL."""
    from etl_cascalog_spark.operators.similarity import hyperplanes

    planes = hyperplanes(dim=64, n_planes=8, seed=7)
    terms = []
    for p_idx, plane in enumerate(planes):
        arr = "[" + ",".join(repr(x) for x in plane) + "]"
        dot = (
            f"list_sum(list_transform(list_zip(embedding, {arr}), "
            "p -> CAST(p[1] AS DOUBLE) * p[2]))"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << p_idx} ELSE 0 END)")
    bucket = " + ".join(terms)
    return f"""
    WITH b AS (
      SELECT vec_id, embedding, CAST({bucket} AS BIGINT) AS bucket FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, embedding AS qv, bucket FROM b WHERE vec_id % 50 = 0
    ), c AS (
      SELECT vec_id AS neighbor_id, embedding AS cv, bucket FROM b
    ), scored AS (
      SELECT query_id, neighbor_id,
             list_sum(list_transform(list_zip(qv, cv),
                                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      FROM c JOIN q USING (bucket)
      WHERE query_id != neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, round(cos, 4) AS cos_sim
    FROM ranked WHERE rank <= 5
    """


@register(
    "ann_lsh_topk",
    oracle=_lsh_oracle_sql(),
    doc="Hyperplane-LSH cosine top-k — the corpus-scale ANN path: bucket "
    "equi-join replaces the cross join (shuffle keyed on sign-bucket). "
    "The seeded hyperplanes are literals, so even the bucketing is "
    "oracle-reproducible.",
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.similarity import lsh_cosine_topk

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return lsh_cosine_topk(queries, emb, k=5, n_planes=8, dim=64, seed=7)


def _ivf_oracle_sql() -> str:
    """DuckDB oracle for ann_ivf_topk: the centroids are seeded literals,
    so the cell assignment (argmax cosine, ties → lower cell) reproduces
    exactly; both engines fold the dot product left-to-right in double."""
    from etl_cascalog_spark.operators.similarity import ivf_centroids

    import math

    cents = ivf_centroids(dim=64, n_cells=8, seed=11)
    cos_terms = []
    for cent in cents:
        arr = "[" + ",".join(repr(x) for x in cent) + "]"
        d = (
            f"list_sum(list_transform(list_zip(embedding, {arr}), "
            "p -> CAST(p[1] AS DOUBLE) * p[2]))"
        )
        # ||c|| precomputed as a literal; ||vec|| dropped (argmax-invariant)
        # — must mirror similarity.ivf_cell exactly
        nc = repr(math.sqrt(sum(x * x for x in cent)))
        cos_terms.append(f"{d} / {nc}")
    cs = "[" + ", ".join(cos_terms) + "]"
    return f"""
    WITH cells AS (
      SELECT vec_id, embedding,
             CAST(list_position({cs}, list_max({cs})) - 1 AS INT) AS cell
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, embedding AS qv, cell FROM cells WHERE vec_id % 50 = 0
    ), c AS (
      SELECT vec_id AS neighbor_id, embedding AS cv, cell FROM cells
    ), scored AS (
      SELECT query_id, neighbor_id,
             list_sum(list_transform(list_zip(qv, cv),
                                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      FROM c JOIN q USING (cell)
      WHERE query_id != neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, round(cos, 4) AS cos_sim
    FROM ranked WHERE rank <= 5
    """


@register(
    "ann_ivf_topk",
    oracle=_ivf_oracle_sql(),
    doc="IVF (inverted-file) cosine top-k — the second ANN scale path: "
    "corpus assigned to nearest-centroid cells map-side, query scans only "
    "its cell (equi-join on cell id). Centroids are seeded literals here; "
    "production swaps in k-means centroids with an identical plan shape.",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.similarity import ivf_cosine_topk

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return ivf_cosine_topk(queries, emb, k=5, n_cells=8, dim=64, seed=11)


def _ivf_nprobe_oracle_sql(nprobe: int = 2) -> str:
    """DuckDB oracle for ann_ivf_nprobe_topk: corpus cells by argmax as in
    _ivf_oracle_sql; the query side probes its ``nprobe`` best cells
    (score DESC, ties → lower cell — the same order ivf_cells_topn's
    struct sort produces)."""
    import math

    from etl_cascalog_spark.operators.similarity import ivf_centroids

    cents = ivf_centroids(dim=64, n_cells=8, seed=11)
    cos_terms = []
    for cent in cents:
        arr = "[" + ",".join(repr(x) for x in cent) + "]"
        d = (
            f"list_sum(list_transform(list_zip(embedding, {arr}), "
            "p -> CAST(p[1] AS DOUBLE) * p[2]))"
        )
        nc = repr(math.sqrt(sum(x * x for x in cent)))
        cos_terms.append(f"{d} / {nc}")
    cs = "[" + ", ".join(cos_terms) + "]"
    return f"""
    WITH cells AS (
      SELECT vec_id, embedding, {cs} AS scores FROM embeddings
    ), c AS (
      SELECT vec_id AS neighbor_id, embedding AS cv,
             CAST(list_position(scores, list_max(scores)) - 1 AS INT) AS cell
      FROM cells
    ), qs AS (
      SELECT vec_id AS query_id, embedding AS qv, scores FROM cells WHERE vec_id % 50 = 0
    ), qc AS (
      SELECT query_id, qv, cell FROM (
        SELECT query_id, qv, CAST(g.cell AS INT) AS cell,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY scores[g.cell + 1] DESC, g.cell) AS rn
        FROM qs CROSS JOIN (SELECT unnest(range(8)) AS cell) g
      ) WHERE rn <= {nprobe}
    ), scored AS (
      SELECT query_id, neighbor_id,
             list_sum(list_transform(list_zip(qv, cv),
                                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      FROM c JOIN qc USING (cell)
      WHERE query_id != neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, round(cos, 4) AS cos_sim
    FROM ranked WHERE rank <= 5
    """


@register(
    "ann_ivf_nprobe_topk",
    oracle=_ivf_nprobe_oracle_sql(2),
    doc="IVF cosine top-k with nprobe=2 — the recall dial of the IVF scale "
    "path: each query row explodes to its 2 best cells (one sorted "
    "scored-struct array, each centroid score evaluated once), same cell "
    "equi-join, ×nprobe candidates; recall → exact as nprobe → n_cells.",
)
def ann_ivf_nprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.similarity import ivf_cosine_topk

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return ivf_cosine_topk(queries, emb, k=5, n_cells=8, dim=64, seed=11, nprobe=2)


def _neardup_oracle_sql() -> str:
    """DuckDB oracle for embedding_neardup: planted scaled duplicates
    (×2.0 is exact in binary fp, cosine-invariant) + the same literal
    hyperplane bucketing as ann_lsh_topk."""
    from etl_cascalog_spark.operators.similarity import hyperplanes

    planes = hyperplanes(dim=64, n_planes=8, seed=7)
    terms = []
    for p_idx, plane in enumerate(planes):
        arr = "[" + ",".join(repr(x) for x in plane) + "]"
        dot = (
            f"list_sum(list_transform(list_zip(embedding, {arr}), "
            "p -> CAST(p[1] AS DOUBLE) * p[2]))"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << p_idx} ELSE 0 END)")
    bucket = " + ".join(terms)
    return f"""
    WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 100000,
             list_transform(embedding, x -> CAST(x * CAST(2.0 AS FLOAT) AS FLOAT))
      FROM embeddings WHERE vec_id % 10 = 0
    ), b AS (
      SELECT vec_id, embedding, CAST({bucket} AS BIGINT) AS bucket FROM corpus
    ), pairs AS (
      SELECT a.vec_id AS id_a, c.vec_id AS id_b,
             round(
               list_sum(list_transform(list_zip(a.embedding, c.embedding),
                                       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
               4) AS cos_sim
      FROM b a JOIN b c USING (bucket)
      WHERE a.vec_id < c.vec_id
    )
    SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= 0.99
    """


@register(
    "embedding_neardup",
    oracle=_neardup_oracle_sql(),
    doc="Fifth dedup tier (beyond-reference): embedding-cosine near-dup "
    "pairs via hyperplane-LSH bucket join — semantic duplicates that share "
    "no n-grams. Planted ×2-scaled copies (cosine exactly 1) make recall "
    "assertable; the bucket equi-join is the 100 TB shape (no cross join).",
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.dedup import embedding_neardup_pairs

    emb = read_table(spark, sf_dir, "embeddings")
    planted = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(2.0).cast("float")).cast("float")
        ).alias("embedding"),
        "label",
    )
    corpus = emb.unionByName(planted)
    return embedding_neardup_pairs(corpus, threshold=0.99)


@register(
    "multimodal_payload_meta",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           lower(sha256(text)) AS payload_sha256,
           'text/plain' AS mime
    FROM documents
    """,
    doc="Multimodal column plumbing (beyond-reference): binary payload + "
    "typed metadata struct (mime, n_bytes, sha256) computed JVM-side; "
    "metadata pipelines prune the payload bytes at the scan.",
)
def multimodal_payload_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.multimodal import (
        text_as_payload,
        with_payload_meta,
    )

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", text_as_payload(F.col("text")).alias("payload")
    )
    with_meta = with_payload_meta(docs, "payload", mime="text/plain")
    return with_meta.select(
        "doc_id",
        F.col("payload_meta.n_bytes").alias("n_bytes"),
        F.col("payload_meta.sha256").alias("payload_sha256"),
        F.col("payload_meta.mime").alias("mime"),
    )


@register(
    "image_decode_stats",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             (doc_id * 37) % 256 AS r, (doc_id * 59) % 256 AS g,
             (doc_id * 83) % 256 AS b,
             1 + doc_id % 16 AS w, 1 + doc_id % 8 AS h
      FROM documents
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           CAST(255 AS INTEGER) AS max_val,
           round((0.299 * r + 0.587 * g + 0.114 * b) / 255.0, 6) AS mean_luma
    FROM p
    """,
    doc="EXECUTABLE image decode end-to-end (beyond-reference; closes the "
    "round-2 decode stub): deterministic solid-color PPM(P6) payloads are "
    "rendered per document (encode_ppm, mapInPandas), then decode_image "
    "parses header+raster with numpy and emits Rec.601 mean luma — the "
    "oracle recomputes every stat analytically from doc_id, so the whole "
    "binary encode→decode path is value-checked, not just schema-checked. "
    "Two Arrow map stages, zero shuffle, payload bytes never leave the "
    "executor.",
)
def image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.multimodal import decode_image, encode_ppm

    params = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        ((F.col("doc_id") * 37) % 256).cast("int").alias("r"),
        ((F.col("doc_id") * 59) % 256).cast("int").alias("g"),
        ((F.col("doc_id") * 83) % 256).cast("int").alias("b"),
        (1 + F.col("doc_id") % 16).cast("int").alias("w"),
        (1 + F.col("doc_id") % 8).cast("int").alias("h"),
    )
    imgs = encode_ppm(params, "doc_id", "r", "g", "b", "w", "h")
    decoded = decode_image(imgs, "doc_id", "payload")
    return decoded.select(
        "doc_id",
        "width",
        "height",
        "max_val",
        F.round("mean_luma", 6).alias("mean_luma"),
    )


#: one staged binaryFile fixture dir per (process, sf_dir) — mkdtemp gave
#: freshness (no stale files from a prior run, no half-written reads) but
#: leaked one 27-file dir per BUILD: bench min-of-N and the plan-lint walk
#: build this query several times per process. Cache + atexit keeps the
#: freshness (new dir per process, never reused across runs) without the
#: unbounded accrual.
_BINARYTAP_DIRS: dict = {}


@register(
    "binaryfile_image_ingest",
    oracle="""
    WITH p AS (
      SELECT n_nationkey AS doc_id,
             (n_nationkey * 37) % 256 AS r, (n_nationkey * 59) % 256 AS g,
             (n_nationkey * 83) % 256 AS b,
             1 + n_nationkey % 7 AS w, 1 + n_nationkey % 5 AS h
      FROM nation
    )
    SELECT doc_id,
           CAST(11 + 3 * w * h AS BIGINT) AS n_bytes,
           CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           CAST(255 AS INTEGER) AS max_val,
           round((0.299 * r + 0.587 * g + 0.114 * b) / 255.0, 6) AS mean_luma
    FROM p
    """,
    doc="S7 hfs-wholefile CLOSED end-to-end (reference imports it, "
    "hadoop/bolome/d_bolome_order.clj:4-5): REAL files on disk — one "
    "deterministic solid-color PPM(P6) per nation, written driver-side at "
    "build — ingested through io.read_binary_files (Spark's binaryFile "
    "source, pathGlobFilter pruning a decoy non-ppm file at listing "
    "time), ids recovered from the file PATH column, payload decoded by "
    "the real PPM codec, and the source's length metadata carried "
    "through. The oracle recomputes every stat analytically from "
    "n_nationkey, including the exact on-disk byte length (11-byte "
    "header + 3wh raster), so the tap's (path, length, content) contract "
    "is value-checked against files Spark actually listed and read.",
)
def binaryfile_image_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile

    from etl_cascalog_spark.io import read_binary_files
    from etl_cascalog_spark.operators.multimodal import decode_image

    rows = read_table(spark, sf_dir, "nation").select("n_nationkey").collect()
    if sf_dir in _BINARYTAP_DIRS:
        return _binarytap_plan(spark, _BINARYTAP_DIRS[sf_dir])
    # Fresh per-process directory: no stale *.ppm from a prior run with
    # different contents can reach the glob, and a concurrent sweep (its
    # own process, its own dir) can never observe a half-written file.
    # LOCAL-FS ASSUMPTION: driver and executors share a filesystem here
    # (true for local[N] bench); on a cluster the files would be staged to
    # shared/object storage first.
    d = tempfile.mkdtemp(prefix="etl_cascalog_binarytap_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    for r in rows:
        k = r.n_nationkey
        rr, gg, bb = (k * 37) % 256, (k * 59) % 256, (k * 83) % 256
        w, h = 1 + k % 7, 1 + k % 5
        payload = b"P6\n%d %d\n255\n" % (w, h) + bytes((rr, gg, bb)) * (w * h)
        with open(os.path.join(d, f"nation_{k}.ppm"), "wb") as fh:
            fh.write(payload)
    with open(os.path.join(d, "README.txt"), "w") as fh:
        fh.write("decoy: must be pruned by the *.ppm glob before any read\n")
    _BINARYTAP_DIRS[sf_dir] = d
    return _binarytap_plan(spark, d)


def _binarytap_plan(spark: SparkSession, d: str) -> DataFrame:
    from etl_cascalog_spark.io import read_binary_files
    from etl_cascalog_spark.operators.multimodal import decode_image

    files = read_binary_files(spark, d, glob="*.ppm").select(
        F.regexp_extract("path", r"nation_(\d+)\.ppm$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        "content",
    )
    decoded = decode_image(files.select("doc_id", "content"), "doc_id", "content")
    return (
        files.select("doc_id", "n_bytes")
        .join(decoded, "doc_id")
        .select(
            "doc_id",
            "n_bytes",
            "width",
            "height",
            "max_val",
            F.round("mean_luma", 6).alias("mean_luma"),
        )
    )


@register(
    "top_n_per_group",
    oracle="""
    SELECT * FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer
    ) WHERE rn <= 3
    """,
    doc="W4 ranking / O1 first-n: top-k per group via row_number window "
    "(the reference shipped sort keys to the UI instead — "
    "m_cocacola_score_top_bottom5_ranking.clj:97).",
)
def top_n_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        cust.select("c_nationkey", "c_custkey", "c_acctbal")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# K. Time-series joins (beyond-reference: as-of / interval)
# ---------------------------------------------------------------------------

@register(
    "asof_join_events",
    oracle="""
    WITH l AS (SELECT * FROM events WHERE event_type = 'purchase'),
         r AS (SELECT * FROM events WHERE event_type = 'click'),
         pairs AS (
           SELECT l.event_id,
                  r.value    AS last_click_value,
                  r.event_id AS last_click_id,
                  row_number() OVER (PARTITION BY l.event_id
                                     ORDER BY r.ts DESC, r.event_id DESC) AS rn
           FROM l JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
         )
    SELECT l.event_id AS purchase_id,
           l.user_id,
           strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           p.last_click_value,
           p.last_click_id
    FROM l LEFT JOIN (SELECT * FROM pairs WHERE rn = 1) p
      ON l.event_id = p.event_id
    """,
    doc="Backward as-of join (beyond-reference; pandas merge_asof / DuckDB "
    "ASOF JOIN semantics): each purchase gets the latest at-or-before click "
    "of the same user. Union+window composition — ONE shuffle on user_id, "
    "row-frame last(struct, ignorenulls) — vs the oracle's quadratic "
    "theta-join + row_number formulation.",
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.joins import asof_join

    ev = read_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.col("ts").alias("__pts"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts"),
        F.col("value").alias("last_click_value"),
        F.col("event_id").alias("last_click_id"),
    )
    return asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="__pts",
        right_ts="ts",
        value_cols=["last_click_value", "last_click_id"],
        tiebreak="last_click_id",
    ).drop("__pts")


@register(
    "range_join_windows",
    oracle="""
    SELECT e.event_id AS error_id,
           count(*) AS n_clicks,
           CAST(round(sum(CAST(c.value AS DECIMAL(12,2))), 2) AS DOUBLE) AS click_value
    FROM (SELECT event_id, ts, ts + INTERVAL 30 MINUTE AS w_end
          FROM events WHERE event_type = 'error') e
    JOIN (SELECT ts, value FROM events WHERE event_type = 'click') c
      ON c.ts >= e.ts AND c.ts <= e.w_end
    GROUP BY e.event_id
    """,
    doc="Interval/range join (beyond-reference; Flink interval-join / "
    "TimescaleDB shape): clicks landing in the 30-minute window after each "
    "error, aggregated per error. Scale path = interval→bucket explode + "
    "hash equi-join on the bucket cell + BETWEEN residual; the naive "
    "BNLJ evaluates |probe|x|intervals| predicates.",
)
def range_join_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.joins import range_join

    ev = read_table(spark, sf_dir, "events")
    intervals = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("w_start"),
        F.expr("ts + INTERVAL 30 MINUTE").alias("w_end"),
    )
    clicks = ev.where(F.col("event_type") == "click").select("ts", "value")
    joined = range_join(
        clicks, "ts", intervals, "w_start", "w_end", bucket_seconds=1800
    )
    return joined.groupBy("error_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        dround(F.sum(money(F.col("value")))).alias("click_value"),
    )


@register(
    "hypertable_rollup",
    oracle="""
    SELECT 'hour' AS grain,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
    FROM events GROUP BY date_trunc('hour', ts)
    UNION ALL
    SELECT 'day',
           strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S'),
           count(*),
           CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE)
    FROM events GROUP BY date_trunc('day', ts)
    UNION ALL
    SELECT 'month',
           strftime(date_trunc('month', ts), '%Y-%m-%d %H:%M:%S'),
           count(*),
           CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE)
    FROM events GROUP BY date_trunc('month', ts)
    """,
    doc="Hypertable continuous-aggregate cascade (beyond-reference; "
    "TimescaleDB/Druid rollup): hour level from raw ONCE, day from hour "
    "partials, month from day partials — raw scanned/shuffled exactly once "
    "vs the oracle's three independent scans. Exact decimal partials keep "
    "every level bit-identical to direct aggregation.",
)
def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.periods import cascade_rollup

    ev = read_table(spark, sf_dir, "events")
    rolled = cascade_rollup(
        ev,
        "ts",
        measures={
            "n_events": (F.count(F.lit(1)), lambda c: F.sum(c)),
            "__sum_value": (F.sum(money(F.col("value"))), lambda c: F.sum(c)),
        },
    )
    return rolled.select(
        "grain", "bucket", "n_events",
        dround(F.col("__sum_value")).alias("total_value"),
    )


@register(
    "train_split_assignment",
    oracle="""
    SELECT doc_id,
           CASE WHEN b < 8000 THEN 'train'
                WHEN b < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id,
                 CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'v1'), 1, 8) AS BIGINT)
                 % 10000 AS b
          FROM documents)
    """,
    doc="Deterministic hash split (beyond-reference): stable, portable, "
    "leakage-safe train/val/test assignment via md5 bucket thresholds — "
    "pure map-side, no RNG, reproduced bit-exactly by the oracle. The "
    "production recipe keys on the dedup cluster id so near-dups never "
    "straddle the split.",
)
def train_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.sessions import hash_split

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    return hash_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="v1"
    )


@register(
    "corpus_token_profile",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is)\\b')) AS BIGINT) AS s_en,
             CAST(len(regexp_extract_all(lower(text), '\\b(el|la|los|que|de)\\b')) AS BIGINT) AS s_es,
             CAST(len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist)\\b')) AS BIGINT) AS s_de,
             CAST(len(regexp_extract_all(lower(text), '\\b(le|les|des|est|une)\\b')) AS BIGINT) AS s_fr,
             CAST(len(regexp_extract_all(lower(text), '[一-鿿]')) AS BIGINT) AS s_zh,
             CAST(len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS BIGINT) AS n_tokens
      FROM documents WHERE length(text) > 0
    ),
    toks AS (
      SELECT doc_id, n_tokens,
           CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh AND s_en > 0 THEN 'en'
                WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh AND s_es > 0 THEN 'es'
                WHEN s_de >= s_fr AND s_de >= s_zh AND s_de > 0 THEN 'de'
                WHEN s_fr >= s_zh AND s_fr > 0 THEN 'fr'
                WHEN s_zh > 0 THEN 'zh'
                ELSE 'und' END AS lang
      FROM s
    ),
    ranked AS (
      SELECT lang, n_tokens,
             row_number() OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM toks
    )
    SELECT lang,
           max(n) AS n_docs,
           CAST(round(avg(CAST(n_tokens AS DOUBLE)), 2) AS DOUBLE) AS avg_tokens,
           max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN n_tokens END) AS p50_tokens,
           max(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT) THEN n_tokens END) AS p95_tokens,
           max(n_tokens) AS max_tokens
    FROM ranked
    GROUP BY lang
    """,
    doc="Corpus token-count profile (beyond-reference): per-language doc "
    "counts, mean, and EXACT discrete p50/p95 token counts via the "
    "rank = ceil(p*n) rule — integer outputs, so bit-stable across engines "
    "(interpolated percentiles would hash-diverge in the last ulp). "
    "Percentile selection rides a per-(lang, n_tokens) count histogram "
    "(aggregates._hist_pick_ranks, round 12 — token counts are a "
    "bounded integer domain, the mad_outlier/winsorized fast-path "
    "family): ONE map-side-combinable shuffle replaces the range-bucket "
    "construction's three passes, and the scored docs frame is cached "
    "so the lang-ID regex scorer evaluates once, not once per pass. A "
    "lang key has ~6 values, so a partitionBy(lang) window would funnel "
    "the corpus into 6 tasks; the histogram window touches only "
    "domain-sized rows. The profiling pass that sizes a curation run "
    "before it starts.",
)
def corpus_token_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.aggregates import _hist_pick_ranks
    from etl_cascalog_spark.operators.text import lang_id, token_count_ws

    docs = (
        read_table(spark, sf_dir, "documents")
        .where(F.length("text") > 0)
        .select(
            "doc_id",
            lang_id(F.col("text")).alias("lang"),
            token_count_ws(F.col("text")).alias("n_tokens"),
        )
        # feeds the base aggregate AND the percentile histogram: uncached,
        # the lang-ID scorer + tokenizer re-evaluate per consumer
        .cache()
    )
    base = docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        dround(F.avg(F.col("n_tokens").cast("double"))).alias("avg_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )
    hist = docs.groupBy("lang", "n_tokens").agg(F.count("*").alias("__c"))
    pcts = _hist_pick_ranks(
        hist, "lang", "n_tokens", "__c", [0.5, 0.95]
    ).withColumnRenamed("n_tokens", "value")
    bounds = pcts.groupBy("lang").agg(
        F.max(F.when(F.col("percentile") == 0.5, F.col("value"))).alias(
            "p50_tokens"
        ),
        F.max(F.when(F.col("percentile") == 0.95, F.col("value"))).alias(
            "p95_tokens"
        ),
    )
    return base.join(bounds, "lang").select(
        "lang", "n_docs", "avg_tokens", "p50_tokens", "p95_tokens", "max_tokens"
    )


@register(
    "doc_repetition_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ),
    b AS (
      SELECT doc_id, len(t) AS n, len(list_distinct(t)) AS nd,
             unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
      FROM toks WHERE len(t) >= 2
    ),
    c AS (SELECT doc_id, n, nd, bg, count(*) AS c FROM b GROUP BY doc_id, n, nd, bg)
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           round(1.0 - nd * 1.0 / n, 6) AS dup_word_frac,
           round(max(c) * 1.0 / sum(c), 6) AS top_bigram_frac
    FROM c GROUP BY doc_id, n, nd
    """,
    doc="Gopher/MassiveText repetition quality rules (public: Rae et al. "
    "2021 §A1.1): duplicate-word fraction and top-bigram fraction per doc "
    "via explode → hash-agg → per-doc max (NOT a per-row array-mode fold — "
    "the Catalyst inlining trap). Both shuffles keyed on doc_id: "
    "skew-impossible, AQE-coalesced.",
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.text import repetition_stats

    return repetition_stats(read_table(spark, sf_dir, "documents"))


@register(
    "pii_redaction",
    oracle="""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   'contact user' || CAST(doc_id AS VARCHAR)
                     || '@example.com or +1-555-867-5309 ssn 123-45-6789 at 10.0.0.'
                     || CAST(doc_id % 256 AS VARCHAR),
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\\+?[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
               '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g'),
             '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IP>', 'g')
           AS redacted,
           4 AS n_spans
    FROM documents
    """,
    doc="PII scrubbing (beyond-reference curation op): ordered chained "
    "regexp_replace (email -> phone -> ssn -> ip; engine-portable pattern "
    "subset, no lookaround) — map-side codegen, no UDF. Synthetic PII is "
    "injected per doc_id since the corpus is clean; the oracle re-applies "
    "the identical chain, proving cross-engine regex semantics.",
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.text import PII_PATTERNS, redact_pii

    docs = read_table(spark, sf_dir, "documents")
    injected = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-867-5309 ssn 123-45-6789 at 10.0.0."),
        (F.col("doc_id") % 256).cast("string"),
    )
    return docs.select(
        "doc_id",
        redact_pii(injected).alias("redacted"),
        F.lit(len(PII_PATTERNS)).cast("int").alias("n_spans"),
    )


@register(
    "funnel_conversion",
    oracle="""
    WITH t1 AS (
      SELECT user_id, min(ts) AS ts1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    t2 AS (
      SELECT e.user_id, min(e.ts) AS ts2 FROM events e
      JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'click' AND e.ts > t1.ts1 GROUP BY e.user_id
    ),
    t3 AS (
      SELECT e.user_id, min(e.ts) AS ts3 FROM events e
      JOIN t2 ON e.user_id = t2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > t2.ts2 GROUP BY e.user_id
    ),
    c AS (SELECT (SELECT count(*) FROM t1) AS c0,
                 (SELECT count(*) FROM t2) AS c1,
                 (SELECT count(*) FROM t3) AS c2)
    SELECT 1 AS step, 'view' AS step_name, CAST(c0 AS BIGINT) AS users,
           1.0 AS conv_rate FROM c
    UNION ALL
    SELECT 2, 'click', CAST(c1 AS BIGINT), round(c1 * 1.0 / c0, 6) FROM c
    UNION ALL
    SELECT 3, 'purchase', CAST(c2 AS BIGINT), round(c2 * 1.0 / c1, 6) FROM c
    """,
    doc="Ordered funnel conversion (beyond-reference events analytics): "
    "first-touch view -> click -> purchase per user, strictly increasing "
    "event times. Engine plan: ALL step times as min(when) windows over "
    "one partitionBy(user) spec -> a single Exchange and one WindowExec "
    "pass; the oracle's textbook formulation self-joins the event table "
    "once per step (|steps| shuffles).",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.sessions import funnel_conversion as funnel

    ev = read_table(spark, sf_dir, "events")
    return funnel(ev, "user_id", "ts", "event_type", ["view", "click", "purchase"])


@register(
    "scd2_point_in_time",
    oracle="""
    WITH dim AS (
      SELECT c_custkey, TIMESTAMP '1995-01-01 00:00:00' AS valid_from,
             CAST(CAST(c_acctbal AS DECIMAL(12,2)) - 100.00 AS DOUBLE) AS bal
      FROM customer
      UNION ALL
      SELECT c_custkey, TIMESTAMP '1998-01-01 00:00:00',
             CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE)
      FROM customer
    )
    SELECT o.o_orderkey, o.o_custkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_dt,
           d.bal AS bal_at_order
    FROM orders o JOIN dim d
      ON o.o_custkey = d.c_custkey AND d.valid_from <= o.o_orderdate
    QUALIFY row_number() OVER (PARTITION BY o.o_orderkey
                               ORDER BY d.valid_from DESC) = 1
    """,
    doc="SCD2 point-in-time dimension lookup (beyond-reference warehouse "
    "op; the reference's ODS swaps keep only the latest version — "
    "replace-into-ods, io.py:222): each order reads the dimension version "
    "valid at its order date. Pure composition: synthesize two validity "
    "versions per customer, then asof_join(orders, versions) on custkey — "
    "ONE shuffle; the oracle's theta-join + QUALIFY re-derives it "
    "independently. Demonstrates the as-of operator as the SCD2 engine.",
)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.joins import asof_join

    cust = read_table(spark, sf_dir, "customer")
    bal = F.col("c_acctbal").cast("decimal(12,2)")
    dim = cust.select(
        "c_custkey",
        F.explode(
            F.array(
                F.struct(
                    F.lit("1995-01-01 00:00:00").cast("timestamp").alias("valid_from"),
                    (bal - F.lit(100.00).cast("decimal(12,2)")).cast("double").alias("bal"),
                ),
                F.struct(
                    F.lit("1998-01-01 00:00:00").cast("timestamp").alias("valid_from"),
                    bal.cast("double").alias("bal"),
                ),
            )
        ).alias("__v"),
    ).select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("__v.valid_from").alias("valid_from"),
        F.col("__v.bal").alias("bal_at_order"),
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_dt"),
        F.col("o_orderdate").alias("__odt"),
    )
    return asof_join(
        orders,
        dim,
        on=["o_custkey"],
        left_ts="__odt",
        right_ts="valid_from",
        value_cols=["bal_at_order"],
        tiebreak="bal_at_order",
    ).drop("__odt")


@register(
    "neardup_clusters",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    {_CC_EDGES_CTE},
    {_cc_labels_sql()}
    SELECT node AS doc_id, label AS cluster_id FROM cc_labels
    """,
    doc="Near-dup CLUSTERS from verified MinHash pairs via connected "
    "components — DEFAULT algorithm is alternating large-star/small-star "
    "(O(log n) rounds regardless of component diameter; "
    "localCheckpoint-bounded lineage), with min-label propagation kept "
    "as the property-tested twin. The step pairwise dedup gets wrong on "
    "chains: keep one doc per component, not per pair. Oracle: unrolled "
    "self-verifying min-label propagation over the exact-Jaccard pair "
    "set (sf1-affordable, unlike the quadratic recursive closure).",
)
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_hashes=64, bands=16, threshold=0.7
    )
    return connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


@register(
    "corpus_mixing",
    oracle="""
    SELECT doc_id, source
    FROM (SELECT doc_id, source,
                 CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'mix1'), 1, 8) AS BIGINT)
                 % 10000 AS b
          FROM documents)
    WHERE b < CASE WHEN source IN ('src0', 'src1', 'src2') THEN 10000
                   WHEN source = 'src3' THEN 5000
                   ELSE 2500 END
    """,
    doc="Deterministic corpus mixing (beyond-reference data-recipe step): "
    "per-source keep-fractions enforced by md5-bucket thresholds — "
    "stable across reruns/engines/task retries (Spark sample() re-draws "
    "on retry; hash thresholds cannot), map-side only.",
)
def corpus_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.sessions import mix_corpus

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    return mix_corpus(
        docs,
        "source",
        "doc_id",
        rates={"src0": 1.0, "src1": 1.0, "src2": 1.0, "src3": 0.5},
        default_rate=0.25,
        salt="mix1",
    )


@register(
    "corpus_upsampling",
    oracle="""
    SELECT doc_id, CAST(epoch AS BIGINT) AS epoch
    FROM (SELECT doc_id,
                 2 + CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'epoch'), 1, 8) AS BIGINT)
                          % 10000 < 5000 THEN 1 ELSE 0 END AS n
          FROM documents),
         LATERAL (SELECT unnest(generate_series(1, n)) AS epoch)
    """,
    doc="Deterministic fractional upsampling (rate 2.5: every doc twice, a "
    "stable hash-chosen half a third time) with an epoch column so "
    "downstream shuffles spread the copies — explode(sequence) row "
    "generation, no join, no RNG; the mixing counterpart of "
    "corpus_mixing.",
)
def corpus_upsampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.sessions import repeat_epochs

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    return repeat_epochs(docs, "doc_id", rate=2.5)


@register(
    "document_chunking",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
      FROM documents
    ),
    n AS (
      SELECT doc_id, w,
             greatest(CAST(ceil((len(w) - 8) * 1.0 / 24) AS INT), 1) AS n_chunks
      FROM toks WHERE len(w) > 0
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_id,
           array_to_string(list_slice(w, i * 24 + 1, i * 24 + 32), ' ') AS chunk_text,
           CAST(len(list_slice(w, i * 24 + 1, i * 24 + 32)) AS BIGINT) AS chunk_len
    FROM n, LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS i)
    """,
    doc="Document chunking into 32-token windows with 8-token overlap "
    "(stride 24) — context-window prep for training/RAG. Map-side "
    "scan→generate only: tokens materialize once (bound column, no "
    "inlining trap), offsets explode from sequence(), every token "
    "covered, last chunk short. No shuffle, no UDF.",
)
def document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.text import chunk_documents

    docs = read_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=32, overlap=8)


@register(
    "validation_report",
    oracle="""
    SELECT 'unique(o_orderkey)' AS check,
           CAST(count(*) AS BIGINT) AS checked,
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS violations,
           count(*) = count(DISTINCT o_orderkey) AS passed
    FROM orders
    UNION ALL
    SELECT 'not_null(o_custkey,o_orderdate)',
           CAST(count(*) * 2 AS BIGINT),
           CAST(count(CASE WHEN o_custkey IS NULL THEN 1 END)
              + count(CASE WHEN o_orderdate IS NULL THEN 1 END) AS BIGINT),
           count(CASE WHEN o_custkey IS NULL THEN 1 END)
              + count(CASE WHEN o_orderdate IS NULL THEN 1 END) = 0
    FROM orders
    UNION ALL
    SELECT 'fk(o_custkey)',
           CAST((SELECT count(*) FROM orders) AS BIGINT),
           CAST((SELECT count(*) FROM orders o
                 WHERE o.o_custkey NOT IN (SELECT c_custkey FROM customer)) AS BIGINT),
           (SELECT count(*) FROM orders o
            WHERE o.o_custkey NOT IN (SELECT c_custkey FROM customer)) = 0
    UNION ALL
    SELECT 'range(o_totalprice)',
           CAST(count(*) AS BIGINT),
           CAST(count(CASE WHEN o_totalprice IS NOT NULL
                           AND o_totalprice < 0 THEN 1 END) AS BIGINT),
           count(CASE WHEN o_totalprice IS NOT NULL
                      AND o_totalprice < 0 THEN 1 END) = 0
    FROM orders
    """,
    doc="Declarative data-quality gate (beyond-reference; the reference's "
    "only guard was load-range audit rows): key uniqueness, NOT-NULL, "
    "broadcast-anti-join FK integrity, and domain-range checks, one "
    "aggregate pass each, unioned into the publish-gate report. Compose "
    "with io.publish_atomic: publish only when sum(violations) == 0.",
)
def validation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.validate import (
        expect_fk,
        expect_in_range,
        expect_no_nulls,
        expect_unique,
        validation_report as vreport,
    )

    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    return vreport(
        [
            expect_unique(orders, ["o_orderkey"]),
            expect_no_nulls(orders, ["o_custkey", "o_orderdate"]),
            expect_fk(orders, "o_custkey", cust, "c_custkey"),
            expect_in_range(orders, "o_totalprice", lo=0.0),
        ]
    )


@register(
    "sequence_packing_offsets",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS token_offset,
           CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512 AS BIGINT)
             AS pack_id
    FROM toks
    """,
    doc="Sequence-packing offsets (beyond-reference): every doc's exclusive "
    "global token offset in the id-ordered concatenated corpus + its "
    "512-token context bin — via the distributed prefix-sum construction "
    "(bucketed parallel windows + a 4096x-smaller bucket-base window), "
    "NOT the single-partition global window the oracle uses.",
)
def sequence_packing_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.text import global_token_offsets, token_count_ws

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", token_count_ws(F.col("text")).alias("n_tokens")
    )
    return global_token_offsets(docs, ctx_tokens=512)


@register(
    "incremental_dedup_docs",
    oracle=f"""
    WITH hist AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 != 0),
    newd AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
    hfp AS (SELECT DISTINCT md5({_NORM_SQL}) AS fp FROM hist),
    nfp AS (SELECT doc_id, md5({_NORM_SQL}) AS fp FROM newd),
    ex AS (
      SELECT doc_id FROM nfp n
      WHERE fp NOT IN (SELECT fp FROM hfp)
        AND doc_id = (SELECT min(m.doc_id) FROM nfp m WHERE m.fp = n.fp)
    ),
    tokn AS (
      SELECT d.doc_id, string_split({_NORM_SQL}, ' ') AS w
      FROM documents d JOIN ex ON d.doc_id = ex.doc_id
    ),
    tokh AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM hist
      UNION ALL SELECT doc_id, w FROM tokn
    ),
    shn AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      FROM tokn
    ),
    shh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      FROM tokh
    ),
    szn AS (SELECT doc_id, count(*) AS n_sh FROM shn GROUP BY 1),
    szh AS (SELECT doc_id, count(*) AS n_sh FROM shh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS doc_n, b.doc_id AS doc_h, count(*) AS c
      FROM shn a JOIN shh b ON a.s = b.s
      WHERE b.doc_id % 5 != 0 OR b.doc_id < a.doc_id
      GROUP BY 1, 2
    ),
    losers AS (
      SELECT DISTINCT doc_n FROM common
      JOIN szn ON szn.doc_id = doc_n
      JOIN szh ON szh.doc_id = doc_h
      WHERE c * 1.0 / (szn.n_sh + szh.n_sh - c) >= 0.7
    )
    SELECT doc_id FROM ex WHERE doc_id NOT IN (SELECT doc_n FROM losers)
    """,
    doc="Incremental (delta-vs-history) dedup — the daily-ingest shape: "
    "drop a new doc when its digest exists in history, a lower-id batch "
    "doc shares it, or it is an exact-verified near-dup of history / a "
    "lower-id batch doc. Candidate generation is NEW-side-driven (bucket "
    "join of delta bands against history+delta bands), so cost scales "
    "with the delta, never history-vs-history. New docs = doc_id %% 5 == 0.",
)
def incremental_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.dedup import incremental_dedup

    docs = read_table(spark, sf_dir, "documents")
    newd = docs.where(F.col("doc_id") % 5 == 0)
    hist = docs.where(F.col("doc_id") % 5 != 0)
    return incremental_dedup(newd, hist, "doc_id", "text").select("doc_id")


def _training_pipeline_oracle_sql() -> str:
    """Capstone oracle: the curation CTE chain (quality → lang → exact dedup
    → cluster-canonical near-dedup), then hash-split train selection,
    32/8 chunking, and global chunk token offsets via a window prefix sum
    over (doc_id, chunk_id) order."""
    curation = _curation_oracle_sql()
    head = curation[: curation.rindex("SELECT doc_id, lang, quality FROM surv")]
    return (
        head
        + """, kept AS (
      SELECT doc_id FROM surv
      WHERE doc_id NOT IN (SELECT s FROM losers)
    ), train AS (
      SELECT k.doc_id FROM kept k
      WHERE CAST('0x' || substr(md5(CAST(k.doc_id AS VARCHAR) || 'v1'), 1, 8) AS BIGINT)
            % 10000 < 8000
    ), tw AS (
      SELECT d.doc_id,
             string_split(regexp_replace(lower(trim(d.text)), '\\s+', ' ', 'g'), ' ') AS w
      FROM documents d JOIN train t ON d.doc_id = t.doc_id
    ), nch AS (
      SELECT doc_id, w,
             greatest(CAST(ceil((len(w) - 8) * 1.0 / 24) AS INT), 1) AS n_chunks
      FROM tw WHERE len(w) > 0
    ), chunks AS (
      SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
             CAST(len(list_slice(w, i * 24 + 1, i * 24 + 32)) AS BIGINT) AS chunk_len
      FROM nch, LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS i)
    )
    SELECT doc_id, chunk_id, chunk_len,
           CAST(coalesce(sum(chunk_len) OVER (ORDER BY doc_id, chunk_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS token_offset,
           CAST(coalesce(sum(chunk_len) OVER (ORDER BY doc_id, chunk_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512 AS BIGINT)
             AS pack_id
    FROM chunks
    """
    )


@register(
    "training_data_pipeline",
    oracle=_training_pipeline_oracle_sql(),
    doc="CAPSTONE composition — the complete training-data prep DAG in one "
    "declarative plan: curation (quality → lang-ID → exact dedup → "
    "cluster-canonical near-dedup) → deterministic hash split (train "
    "slice) → 32/8 context chunking → global chunk offsets + 512-token "
    "pack bins via the distributed prefix sum. Every stage is an "
    "already-oracle-checked operator; this query proves they compose "
    "into one lazy DataFrame the scheduler can fuse end to end.",
)
def training_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.sessions import hash_split
    from etl_cascalog_spark.operators.text import (
        chunk_documents,
        global_token_offsets,
    )

    kept = QUERIES["corpus_curation_pipeline"].build(spark, sf_dir).select("doc_id")
    docs = read_table(spark, sf_dir, "documents").join(kept, "doc_id", "left_semi")
    train = (
        hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="v1")
        .where(F.col("split") == "train")
        .drop("split")
    )
    chunks = chunk_documents(train, chunk_tokens=32, overlap=8)
    # one orderable id per chunk: chunk_id < 10^4 by construction at any SF
    # (doc length / stride), so doc_id*10^4 + chunk_id preserves
    # (doc_id, chunk_id) order exactly
    uid = (F.col("doc_id") * 10_000 + F.col("chunk_id")).alias("__uid")
    packed = global_token_offsets(
        chunks.select(uid, F.col("chunk_len").alias("n_tokens")),
        id_col="__uid",
        n_tokens_col="n_tokens",
        ctx_tokens=512,
    )
    return (
        packed.select(
            (F.col("__uid") / 10_000).cast("long").alias("doc_id"),
            F.pmod(F.col("__uid"), F.lit(10_000)).cast("long").alias("chunk_id"),
            F.col("n_tokens").alias("chunk_len"),
            "token_offset",
            "pack_id",
        )
    )


@register(
    "feature_binning_deciles",
    oracle="""
    SELECT c_nationkey, c_custkey,
           CAST(ntile(10) OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal, c_custkey) AS INT) AS bal_decile
    FROM customer
    """,
    doc="Per-group decile binning (feature engineering): ntile over "
    "(acctbal, custkey) — the id tie-break makes bin assignment total-"
    "order deterministic, so both engines agree bit-exactly (ntile on a "
    "non-total order would hash-diverge on ties). One shuffle on the "
    "group key.",
)
def feature_binning_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_nationkey",
        "c_custkey",
        F.ntile(10).over(w).cast("int").alias("bal_decile"),
    )


@register(
    "bm25_lexical_topk",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w
      FROM documents WHERE len(string_split({_NORM_SQL}, ' ')) > 0
    ),
    d AS (SELECT doc_id, len(w) * 1.0 AS dl, w FROM t),
    stats AS (SELECT count(*) * 1.0 AS n, avg(dl) AS avgdl FROM d),
    posting AS (
      SELECT doc_id, dl, term, count(*) * 1.0 AS tf
      FROM (SELECT doc_id, dl, unnest(w) AS term FROM d)
      WHERE term IN ('spark', 'window', 'merge')
      GROUP BY doc_id, dl, term
    ),
    dfr AS (SELECT term, count(*) * 1.0 AS df FROM posting GROUP BY term),
    scored AS (
      SELECT doc_id,
             round(sum(ln((n - df + 0.5) / (df + 0.5) + 1.0)
                       * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6)
               AS score
      FROM posting JOIN dfr USING (term) CROSS JOIN stats
      GROUP BY doc_id
    )
    SELECT doc_id, score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
    FROM scored QUALIFY rank <= 10
    """,
    doc="BM25 lexical retrieval (beyond-reference; the lexical half of "
    "hybrid search next to the ANN paths): inverted-index shape — term "
    "filter at the explode, (doc, term) tf agg as the only corpus-sized "
    "shuffle, ≤|query|-row df/idf broadcast. Scores rounded to 6 dp "
    "BEFORE ranking (JVM vs C libm ln() last-ulp divergence would flip "
    "near-ties), id tie-break.",
)
def bm25_lexical_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.text import bm25_topk

    docs = read_table(spark, sf_dir, "documents")
    return bm25_topk(docs, ["spark", "window", "merge"], k=10)


@register(
    "hybrid_search_rerank",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w
      FROM documents WHERE len(string_split({_NORM_SQL}, ' ')) > 0
    ),
    d AS (SELECT doc_id, len(w) * 1.0 AS dl, w FROM t),
    stats AS (SELECT count(*) * 1.0 AS n, avg(dl) AS avgdl FROM d),
    posting AS (
      SELECT doc_id, dl, term, count(*) * 1.0 AS tf
      FROM (SELECT doc_id, dl, unnest(w) AS term FROM d)
      WHERE term IN ('spark', 'window', 'merge')
      GROUP BY doc_id, dl, term
    ),
    dfr AS (SELECT term, count(*) * 1.0 AS df FROM posting GROUP BY term),
    scored AS (
      SELECT doc_id,
             round(sum(ln((n - df + 0.5) / (df + 0.5) + 1.0)
                       * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6)
               AS lex_score
      FROM posting JOIN dfr USING (term) CROSS JOIN stats
      GROUP BY doc_id
    ),
    cand AS (
      SELECT doc_id, lex_score,
             row_number() OVER (ORDER BY lex_score DESC, doc_id) AS lex_rank
      FROM scored QUALIFY lex_rank <= 50
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    rer AS (
      SELECT c.doc_id, c.lex_score,
             round(
               list_sum(list_transform(list_zip(e.embedding, q.qv),
                                       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
               4) AS cos_sim
      FROM cand c JOIN embeddings e ON e.vec_id = c.doc_id CROSS JOIN q
    )
    SELECT doc_id, lex_score, cos_sim,
           CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS INT) AS rank
    FROM rer QUALIFY rank <= 10
    """,
    doc="Hybrid retrieval (beyond-reference): BM25 lexical top-50 "
    "candidates re-ranked by embedding cosine to the query vector — the "
    "two-stage RAG retrieval stack composed from bm25_topk + the "
    "similarity module's fold cosine. The candidate set is tiny by "
    "construction, so the re-rank join is broadcast and the embedding "
    "table is probed, never scanned into a cross join.",
)
def hybrid_search_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.similarity import cosine
    from etl_cascalog_spark.operators.text import bm25_topk

    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    cand = (
        bm25_topk(docs, ["spark", "window", "merge"], k=50)
        .select(F.col("doc_id"), F.col("score").alias("lex_score"))
    )
    qv = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    rer = (
        emb.join(F.broadcast(cand), emb["vec_id"] == cand["doc_id"])
        .crossJoin(F.broadcast(qv))
        .select(
            "doc_id",
            "lex_score",
            F.round(cosine(F.col("embedding"), F.col("qv")), 4).alias("cos_sim"),
        )
    )
    w = Window.orderBy(F.col("cos_sim").desc(), F.col("doc_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 10)
    )


@register(
    "trailing_window_revenue",
    oracle="""
    SELECT o_custkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_dt,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2)))
                  OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                        RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW),
                2) AS DOUBLE) AS trailing_7d
    FROM orders
    """,
    doc="Time-RANGE window frame (beyond the rows-frame W3 family): 7-day "
    "trailing revenue per customer — the frame is CALENDAR-bounded "
    "(RANGE INTERVAL), so gaps in order dates shrink the window instead "
    "of counting rows; peers at the same date aggregate together, making "
    "the result per-row deterministic without an id tie-break. One "
    "shuffle + per-key sort; exact decimal sums.",
)
def trailing_window_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    day = 86400  # RANGE frames need a numeric order key: epoch seconds
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-6 * day, 0)
    )
    return orders.select(
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_dt"),
        dround(F.sum(money(F.col("o_totalprice"))).over(w)).alias("trailing_7d"),
    )


@register(
    "grouping_sets_report",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS INT) AS gid,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
    doc="Explicit GROUPING SETS (A12 beyond cube/rollup): the exact "
    "subtotal combinations a report needs — (status, priority), "
    "(status), grand total — in ONE aggregation pass (Expand feeds a "
    "single shuffle; grouping_id disambiguates NULL-as-ALL from real "
    "NULLs, surfaced as gid).",
)
def grouping_sets_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__orders_gs")
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS INT) AS gid,
               count(*) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue
        FROM __orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """
    )


@register(
    "salted_join_skew",
    oracle="""
    SELECT o.o_orderkey, c.c_mktsegment,
           CAST(round(CAST(o.o_totalprice AS DECIMAL(12,2)), 2) AS DOUBLE) AS price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_nationkey = 1
    """,
    doc="Skew-buster equivalence at catalog level: salted_join (explode-"
    "salt the skewed build side x16, deterministic pmod salt on the "
    "probe) must return exactly the plain equi-join rows. The salt is "
    "invisible in the result — only the shuffle key distribution "
    "changes; the oracle is the plain join.",
)
def salted_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.joins import salted_join

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = (
        read_table(spark, sf_dir, "customer")
        .where(F.col("c_nationkey") == 1)
        .select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
    )
    return salted_join(orders, cust, on="o_custkey", salt=16).select(
        "o_orderkey",
        "c_mktsegment",
        dround(money(F.col("o_totalprice"))).alias("price"),
    )


@register(
    "json_schema_extraction",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
    FROM events
    WHERE props IS NOT NULL
    GROUP BY 1
    """,
    doc="Schema-on-read JSON parsing with from_json + an EXPLICIT struct "
    "schema — one parse per row into a typed column (vs one parse per "
    "get_json_object call in the X8 path-extraction query); the "
    "scale-preferred form when several fields are read. Aggregated per "
    "extracted-key bucket.",
)
def json_schema_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").where(F.col("props").isNotNull())
    parsed = ev.withColumn("__p", F.from_json("props", "k bigint"))
    return (
        parsed.groupBy((F.col("__p.k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dround(F.sum(money(F.col("value")))).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# R. Corpus curation round 3: decontamination, passage dedup, vocab, clipping
# ---------------------------------------------------------------------------

@register(
    "benchmark_decontamination",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 4), ' ') AS gram
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w) - 4)) AS i)
      WHERE len(w) >= 5
    ),
    bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
    corp AS (SELECT doc_id, gram FROM grams WHERE doc_id % 97 <> 0)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap
    FROM corp JOIN bench USING (gram)
    GROUP BY doc_id
    """,
    doc="Benchmark decontamination (GPT-3 §C / Pile-style n-gram overlap "
    "scan; 5-grams here, 13 in production): per corpus doc, the count of "
    "distinct word n-grams shared with ANY eval-set doc. Eval sets are "
    "tiny → their distinct-gram set broadcasts; the corpus side is a "
    "map-side explode into a BroadcastHashJoin, and the only corpus-sized "
    "shuffle is the per-doc count on the uniform doc-id key. At real "
    "scale the broadcast becomes a Bloom filter with this exact plan as "
    "the verification pass.",
)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.dedup import decontaminate

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    return decontaminate(corpus, bench, "doc_id", "text", n=5)


@register(
    "decontamination_13gram",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 12), ' ') AS gram
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w) - 12)) AS i)
      WHERE len(w) >= 13
    ),
    bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 7 = 0),
    corp AS (SELECT doc_id, gram FROM grams WHERE doc_id % 7 <> 0)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap
    FROM corp JOIN bench USING (gram)
    GROUP BY doc_id
    """,
    doc="Decontamination at the PRODUCTION n (VERDICT r4 #6): the 13-gram "
    "setting GPT-3 §C / the Pile actually scrub with, under the same full "
    "value oracle as the 5-gram twin — so the tested configuration IS the "
    "production configuration, not a toy stand-in. Same 100 TB plan "
    "(broadcast eval grams, map-side corpus explode, one uniform doc-id "
    "shuffle); longer grams mean FEWER corpus-side rows survive the "
    "length-≥13 guard, so the scan only gets cheaper as n grows. The eval split is doc_id%7 (vs %97 in the 5-gram twin): 13-grams are rare enough that the tiny %97 eval set shares none at test SF — a nonzero overlap is what makes the check evidence rather than 0==0.",
)
def decontamination_13gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.dedup import decontaminate

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 7 == 0)
    corpus = docs.where(F.col("doc_id") % 7 != 0)
    return decontaminate(corpus, bench, "doc_id", "text", n=13)


@register(
    "passage_dedup_docs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w
      FROM documents
      WHERE len(string_split({_NORM_SQL}, ' ')) > 0
    ),
    psg AS (
      SELECT doc_id, i AS pos,
             array_to_string(list_slice(w, i * 10 + 1, i * 10 + 10), ' ') AS passage
      FROM toks, LATERAL (
        SELECT unnest(generate_series(0, CAST(ceil(len(w) / 10.0) AS INT) - 1)) AS i
      )
    ),
    k AS (
      SELECT doc_id, pos, passage,
             row_number() OVER (PARTITION BY md5(passage)
                                ORDER BY doc_id, pos) = 1 AS keep
      FROM psg
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_passages,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           coalesce(array_to_string(list(passage ORDER BY pos)
                                    FILTER (WHERE keep), ' '), '') AS clean_text
    FROM k GROUP BY doc_id
    """,
    doc="Passage-level exact dedup (Lee et al. 2022 ExactSubstr over fixed "
    "10-token windows): keep only the globally FIRST occurrence of each "
    "distinct passage, re-assemble surviving text per doc. Two shuffles — "
    "passage-digest window (md5 key, skew-free) + doc-id re-assembly; "
    "the fixed-window approximation of the suffix-array method that "
    "actually distributes at 100 TB.",
)
def passage_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.dedup import passage_dedup

    docs = read_table(spark, sf_dir, "documents")
    return passage_dedup(docs, "doc_id", "text", passage_tokens=10)


@register(
    "vocab_induction",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split({_NORM_SQL}, ' ')) AS token FROM documents
    ),
    freq AS (
      SELECT token, count(*) AS freq FROM toks
      WHERE len(token) > 0 GROUP BY token
    ),
    total AS (SELECT sum(freq) AS t FROM freq),
    top AS (
      SELECT token, freq,
             CAST(row_number() OVER (ORDER BY freq DESC, token) AS INT) AS rank
      FROM freq QUALIFY rank <= 40
    )
    SELECT token, CAST(freq AS BIGINT) AS freq, rank,
           round(sum(freq) OVER (ORDER BY freq DESC, token
                                 ROWS UNBOUNDED PRECEDING) * 1.0 / t, 6)
             AS cum_share
    FROM top CROSS JOIN total
    """,
    doc="Vocabulary induction: global token-frequency top-40 with rank and "
    "cumulative coverage share — the word-level seed of BPE tokenizer "
    "training and the vocabulary-skew health check. One corpus-sized "
    "hash-agg shuffle (map-side combine collapses it to |vocab|); top-k "
    "is TakeOrdered (no global sort) and the rank/cumsum window touches "
    "k rows only. Exact integer sums both sides, one double divide.",
)
def vocab_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.text import vocab_top_tokens

    docs = read_table(spark, sf_dir, "documents")
    return vocab_top_tokens(docs, "text", k=40)


@register(
    "winsorized_features",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag AS grp,
             CAST(l_extendedprice AS DECIMAL(12,2)) AS v,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY CAST(l_extendedprice AS DECIMAL(12,2)),
                                         l_orderkey, l_linenumber) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    ),
    bounds AS (
      SELECT grp, v, n,
             max(CASE WHEN rn = CAST(ceil(0.05 * n) AS BIGINT) THEN v END)
               OVER (PARTITION BY grp) AS lo,
             max(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT) THEN v END)
               OVER (PARTITION BY grp) AS hi
      FROM ranked
    )
    , clipped AS (
      -- CASE, not least/greatest: DuckDB's greatest(DECIMAL, DECIMAL)
      -- returns DOUBLE, which made the clip sum a parallel FLOAT sum —
      -- nondeterministic across runs (observed .24/.25 flips at sf0.1)
      SELECT grp,
             CASE WHEN v < lo THEN lo WHEN v > hi THEN hi ELSE v END AS cv,
             lo, hi
      FROM bounds
    )
    SELECT grp, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(min(lo), 2) AS DOUBLE) AS p_lo_val,
           CAST(round(min(hi), 2) AS DOUBLE) AS p_hi_val,
           CAST(round(sum(cv), 2) AS DOUBLE) AS clipped_sum,
           CAST((2 * CAST(sum(cv) * 100 AS BIGINT)
                 * 10000 + count(*)) // (2 * count(*)) AS DOUBLE) / 1000000.0
             AS clipped_avg
    FROM clipped GROUP BY grp
    """,
    doc="Per-group winsorization (quantile clipping) for outlier-robust "
    "features: clip price to the group's EXACT discrete [p05, p95] "
    "percentiles (rank = ceil(p·n) — integer rank selection is "
    "bit-stable across engines; interpolation would diverge in the last "
    "ulp). ONE shuffle of the raw rows (aggregates.winsorized_stats_hist, "
    "round 12): 2-dp money collapses into a per-(group, value) count "
    "histogram; both percentile picks ride one running-count window over "
    "the value-ordered histogram and clipped_sum is Σ clip(v)·count — "
    "domain-bounded like mad_outlier_stats, exact decimal sums "
    "throughout.",
)
def winsorized_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.aggregates import winsorized_stats_hist

    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        money(F.col("l_extendedprice")).alias("v"),
    )
    # 2-dp money is a bounded discrete domain, so the one-shuffle
    # histogram path applies (round 12; 2.5× over the two-pass
    # range-bucket form at sf0.1, bit-identical — the same family as
    # mad_outlier_stats). winsorized_stats stays the continuous-domain
    # path.
    out = winsorized_stats_hist(li, "grp", "v", p_lo=0.05, p_hi=0.95)
    return out.select(
        "grp",
        "n_rows",
        dround(F.col("p_lo_val")).alias("p_lo_val"),
        dround(F.col("p_hi_val")).alias("p_hi_val"),
        dround(F.col("clipped_sum")).alias("clipped_sum"),
        # exact integer half-away mean in micro-units (rounding-tie lesson)
        (
            F.expr(
                "(2 * CAST(clipped_sum * 100 AS BIGINT) * 10000 + n_rows)"
                " div (2 * n_rows)"
            ).cast("double")
            / F.lit(1000000.0)
        ).alias("clipped_avg"),
    )


_QUALITY_SQL = f"""round(0.4 * least(length(text) / 500.0, 1.0)
                 + 0.4 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text))
                 + 0.2 * least(len(regexp_extract_all(text, '\\b(the|a|of|and|to|in|is)\\b')) * 5.0
                               / len(string_split({_NORM_SQL}, ' ')), 1.0), 6)"""


@register(
    "key_skew_profile",
    oracle="""
    WITH per_key AS (
      SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
    ),
    stats AS (SELECT sum(cnt) AS total, count(*) AS k, max(cnt) AS m FROM per_key),
    top AS (
      SELECT user_id, cnt,
             CAST(row_number() OVER (ORDER BY cnt DESC, user_id) AS INT) AS rank
      FROM per_key QUALIFY rank <= 5
    )
    SELECT rank, user_id, CAST(cnt AS BIGINT) AS cnt,
           round(cnt * 1.0 / total, 6) AS share,
           round(m * k * 1.0 / total, 6) AS skew_factor
    FROM top CROSS JOIN stats
    """,
    doc="Key-skew pre-flight profile (beyond-reference diagnostics): the "
    "5 heaviest keys with row share plus the global skew factor "
    "(max/mean key size — the hot-partition multiplier). One map-side- "
    "combined count shuffle; stats and top-k are aggregate-sized. Run "
    "on a join key BEFORE the join — skew_factor ≳ 8 → salted_join or "
    "AQE skew handling. The reference discovered skew by failing.",
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.profiling import key_skew_profile as prof

    events = read_table(spark, sf_dir, "events")
    return prof(events, "user_id", top_k=5)


@register(
    "domain_doc_cap",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, source, {_QUALITY_SQL} AS q
      FROM documents WHERE length(text) > 0
    )
    SELECT source, doc_id, q,
           CAST(row_number() OVER (PARTITION BY source
                                   ORDER BY q DESC, doc_id) AS INT) AS qrank
    FROM q QUALIFY qrank <= 3
    """,
    doc="Per-domain document cap (curation op: bound any single source's "
    "contribution to the corpus — C4/MassiveText keep per-host caps): "
    "top-3 docs per source by quality score. Rank on the 6-dp-rounded "
    "score with id tie-break → total order, bit-stable across engines. "
    "ONE shuffle on source; at 100 TB the window is per-domain-sized "
    "(bounded), never corpus-sized.",
)
def domain_doc_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.text import quality_score

    docs = (
        read_table(spark, sf_dir, "documents")
        .where(F.length("text") > 0)
        .select("doc_id", "source", quality_score(F.col("text")).alias("q"))
    )
    w = Window.partitionBy("source").orderBy(F.col("q").desc(), "doc_id")
    return docs.withColumn("qrank", F.row_number().over(w).cast("int")).where(
        F.col("qrank") <= 3
    )


@register(
    "length_bucketing",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len(string_split({_NORM_SQL}, ' ')) AS n_tokens
      FROM documents WHERE length(text) > 0
    ),
    b AS (SELECT doc_id, n_tokens, length(bin(n_tokens)) AS bucket FROM t)
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_tokens) AS BIGINT) AS min_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           round((count(*) * max(n_tokens) - sum(n_tokens)) * 1.0
                 / (count(*) * max(n_tokens)), 6) AS padding_frac
    FROM b GROUP BY bucket
    """,
    doc="Length-bucketed batching prep (dynamic batching: group docs into "
    "power-of-two token-length buckets so pad-to-longest waste is bounded "
    "~2×): bucket id = bit-length of the token count — INTEGER semantics "
    "(floor(log2(n)) via float logs can flip at powers of two across "
    "libms). Map-side bucket assignment (NO global ntile window — that "
    "would single-partition the corpus); one grouped agg reports per- "
    "bucket padding waste if batches padded to the bucket max.",
)
def length_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.text import token_count_ws

    docs = (
        read_table(spark, sf_dir, "documents")
        .where(F.length("text") > 0)
        .select("doc_id", token_count_ws(F.col("text")).alias("n_tokens"))
    )
    # bit-length via base-2 string: exact integer bucketing, no float log
    bucketed = docs.withColumn(
        "bucket", F.length(F.conv(F.col("n_tokens").cast("string"), 10, 2)).cast("int")
    )
    n, mx, sm = F.count("*"), F.max("n_tokens"), F.sum("n_tokens")
    return bucketed.groupBy("bucket").agg(
        n.cast("long").alias("n_docs"),
        F.min("n_tokens").cast("long").alias("min_tokens"),
        mx.cast("long").alias("max_tokens"),
        sm.cast("long").alias("sum_tokens"),
        F.round(
            (n * mx - sm).cast("double") / (n * mx).cast("double"), 6
        ).alias("padding_frac"),
    )


@register(
    "bpe_merge_candidates",
    oracle=f"""
    WITH words AS (
      SELECT unnest(string_split({_NORM_SQL}, ' ')) AS word FROM documents
    ),
    pairs AS (
      SELECT unnest(list_transform(range(1, len(word)),
                                   i -> substr(word, i, 2))) AS pair
      FROM words WHERE len(word) >= 2
    ),
    freq AS (SELECT pair, count(*) AS freq FROM pairs GROUP BY pair),
    top AS (
      SELECT pair, freq,
             CAST(row_number() OVER (ORDER BY freq DESC, pair) AS INT) AS rank
      FROM freq QUALIFY rank <= 20
    )
    SELECT pair, CAST(freq AS BIGINT) AS freq, rank FROM top
    """,
    doc="BPE merge-pair scan — ONE round of byte-pair-encoding tokenizer "
    "training as a DataFrame op: corpus-global adjacent character-pair "
    "frequencies, top-20 with rank (the argmax IS the next BPE merge "
    "rule; iterate with the learned merges applied to train a full "
    "vocab). Char pairs come off a materialized word column (attribute "
    "reference — no Catalyst re-inlining); one corpus-sized hash-agg "
    "with map-side combine, then TakeOrdered over |pairs|.",
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.text import whitespace_tokens

    from pyspark.sql import Window as W

    docs = read_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(whitespace_tokens(F.col("text"))).alias("word")
    ).where(F.length("word") >= 2)
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substr(word, i, 2))")
        ).alias("pair")
    )
    freq = pairs.groupBy("pair").agg(F.count("*").alias("freq"))
    top = freq.orderBy(F.col("freq").desc(), "pair").limit(20)
    w = W.orderBy(F.col("freq").desc(), F.col("pair"))
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "pair", "freq", "rank"
    )


@register(
    "snapshot_diff_orders",
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS k, o_custkey AS c,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM orders
    ),
    old AS (SELECT k, c, cents FROM o WHERE k % 7 <> 0),
    new AS (
      SELECT k, c, CASE WHEN k % 5 = 0 THEN cents * 2 ELSE cents END AS cents
      FROM o WHERE k % 11 <> 0
    ),
    od AS (SELECT k, md5(concat_ws(chr(31),
             coalesce(CAST(c AS VARCHAR), chr(0)),
             coalesce(CAST(cents AS VARCHAR), chr(0)))) AS old_digest FROM old),
    nd AS (SELECT k, md5(concat_ws(chr(31),
             coalesce(CAST(c AS VARCHAR), chr(0)),
             coalesce(CAST(cents AS VARCHAR), chr(0)))) AS new_digest FROM new)
    SELECT coalesce(od.k, nd.k) AS o_orderkey,
           CASE WHEN od.k IS NULL THEN 'added'
                WHEN nd.k IS NULL THEN 'removed'
                WHEN old_digest <> new_digest THEN 'changed'
                ELSE 'unchanged' END AS change,
           old_digest, new_digest
    FROM od FULL OUTER JOIN nd ON od.k = nd.k
    WHERE CASE WHEN od.k IS NULL THEN 'added'
               WHEN nd.k IS NULL THEN 'removed'
               WHEN old_digest <> new_digest THEN 'changed'
               ELSE 'unchanged' END <> 'unchanged'
    """,
    doc="Snapshot diff — CDC generation from two plain table versions "
    "(what a Delta/Iceberg change feed would emit, computed from "
    "snapshots): added / removed / changed per key by digest compare. "
    "Both sides project to (key, md5) BEFORE the join, so the shuffle "
    "carries ~48 B/row regardless of table width; the full-outer join "
    "is the one forced SMJ class (same as the stg⋈ods merges) and "
    "vanishes under bucket-written snapshots.",
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.incremental import snapshot_diff

    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey"),
        F.col("o_custkey"),
        (money(F.col("o_totalprice")) * 100).cast("long").alias("cents"),
    )
    old = o.where(F.col("o_orderkey") % 7 != 0)
    new = o.where(F.col("o_orderkey") % 11 != 0).select(
        "o_orderkey",
        "o_custkey",
        F.when(F.col("o_orderkey") % 5 == 0, F.col("cents") * 2)
        .otherwise(F.col("cents"))
        .alias("cents"),
    )
    return snapshot_diff(old, new, ["o_orderkey"], ["o_custkey", "cents"])


@register(
    "cdc_apply_orders",
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS k, o_custkey AS c,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM orders
    ),
    base AS (SELECT k, c, cents FROM o WHERE k % 10 <= 7),
    changes AS (
      SELECT k, c, cents, 'D' AS op, 1 AS ts FROM o WHERE k % 10 = 6
      UNION ALL SELECT k, c, cents + 100, 'U', 1 FROM o WHERE k % 10 = 7
      UNION ALL SELECT k, c, cents + 200, 'U', 2 FROM o WHERE k % 10 = 7
      UNION ALL SELECT k, c, cents, 'I', 1 FROM o WHERE k % 10 IN (8, 9)
    ),
    latest AS (
      SELECT * FROM changes
      QUALIFY row_number() OVER (PARTITION BY k ORDER BY ts DESC) = 1
    )
    SELECT k AS o_orderkey, c AS o_custkey, cents AS price_cents
    FROM base WHERE k NOT IN (SELECT k FROM latest)
    UNION ALL
    SELECT k, c, cents FROM latest WHERE op <> 'D'
    """,
    doc="CDC apply — the consume side (Debezium-style I/U/D log folded "
    "into a keyed table; MERGE INTO semantics without a table format): "
    "latest change per key wins by timestamp, D deletes, I/U upsert, "
    "untouched base rows pass through via a broadcast anti-join on the "
    "(ids-only, delta-sized) changed-key set — the base never "
    "re-shuffles, the same delta-driven posture as delta_shadow_merge "
    "and incremental_dedup.",
)
def cdc_apply_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.incremental import cdc_apply

    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey"),
        F.col("o_custkey"),
        (money(F.col("o_totalprice")) * 100).cast("long").alias("price_cents"),
    )
    k = F.col("o_orderkey")
    base = o.where(k % 10 <= 7)
    mk = lambda df, price, op, ts: df.select(  # noqa: E731
        "o_orderkey",
        "o_custkey",
        price.alias("price_cents"),
        F.lit(op).alias("op"),
        F.lit(ts).alias("ts"),
    )
    changes = (
        mk(o.where(k % 10 == 6), F.col("price_cents"), "D", 1)
        .unionByName(mk(o.where(k % 10 == 7), F.col("price_cents") + 100, "U", 1))
        .unionByName(mk(o.where(k % 10 == 7), F.col("price_cents") + 200, "U", 2))
        .unionByName(mk(o.where((k % 10).isin(8, 9)), F.col("price_cents"), "I", 1))
    )
    return cdc_apply(base, changes, ["o_orderkey"], "ts", "op")


@register(
    "embedding_label_centroids",
    oracle="""
    WITH agg AS (
      SELECT label,
             dim - 1 AS dim,
             CAST(count(*) AS BIGINT) AS n,
             sum(CAST(round(CAST(x AS DOUBLE), 6) AS DECIMAL(18,6))) AS s
      FROM (SELECT label, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS dim
            FROM embeddings)
      GROUP BY label, dim
    )
    SELECT label, dim, n,
           CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END)
                * ((2 * abs(CAST(s * 1000000 AS BIGINT)) + n) // (2 * n))
                AS DOUBLE) / 1000000.0 AS centroid
    FROM agg
    """,
    doc="Per-label embedding centroids (k-means M-step / class prototypes "
    "/ SemDeDup cluster centers) in long format: posexplode map-side, ONE "
    "shuffle on (label, dim) with full map-side partial aggregation. "
    "Components round to 6 dp then sum as exact DECIMAL — associative, so "
    "partition-order-independent — and the MEAN is an exact integer "
    "half-away-from-zero division in micro-units, so even EXACT ties are "
    "bit-identical across engines (a double divide + round diverged at "
    "sf0.1 on a true 3213.5-micro-unit tie; raw float partials differ "
    "per run; float→decimal casts differ between engines — "
    "round-then-cast is the portable form, measured).",
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.similarity import label_centroids

    emb = read_table(spark, sf_dir, "embeddings")
    return label_centroids(emb, "label", "embedding")


@register(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(frame_offset AS BIGINT) AS frame_offset
    FROM documents,
         LATERAL (SELECT unnest(generate_series(
                    0, greatest(octet_length(encode(text)) - 1, 0), 64))
                  AS frame_offset)
    """,
    doc="Multimodal frame-sampling PLAN: per-payload frame byte offsets "
    "(every 64 bytes here; every N video frames in production) computed "
    "from the metadata struct ONLY — the payload bytes are never read "
    "(column pruning drops them at the scan), and the offsets feed the "
    "mapInPandas codec boundary. Map-side explode, zero shuffles; the "
    "text-as-UTF-8-payload stand-in makes the whole plumbing "
    "oracle-checkable.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.multimodal import (
        frame_sample_plan,
        text_as_payload,
        with_payload_meta,
    )

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", text_as_payload(F.col("text")).alias("payload")
    )
    with_meta = with_payload_meta(docs, "payload", mime="video/fake")
    sampled = frame_sample_plan(with_meta, "payload_meta", every_n_bytes=64)
    return sampled.select(
        "doc_id",
        F.col("payload_meta.n_bytes").alias("n_bytes"),
        F.col("frame_offset").cast("long").alias("frame_offset"),
    )


@register(
    "mad_outlier_stats",
    oracle="""
    WITH v AS (
      SELECT l_returnflag AS grp,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM lineitem
    ),
    r1 AS (
      SELECT grp, cents,
             row_number() OVER (PARTITION BY grp ORDER BY cents) AS rn,
             count(*) OVER (PARTITION BY grp) AS n
      FROM v
    ),
    med AS (
      SELECT grp, max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                           THEN cents END) AS median_cents
      FROM r1 GROUP BY grp
    ),
    dev AS (
      SELECT v.grp, v.cents, abs(v.cents - m.median_cents) AS absdev,
             m.median_cents
      FROM v JOIN med m ON v.grp = m.grp
    ),
    r2 AS (
      SELECT grp, cents, absdev, median_cents,
             row_number() OVER (PARTITION BY grp ORDER BY absdev) AS rn,
             count(*) OVER (PARTITION BY grp) AS n
      FROM dev
    ),
    mad AS (
      SELECT grp, max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                           THEN absdev END) AS mad_cents
      FROM r2 GROUP BY grp
    )
    SELECT d.grp,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(max(d.median_cents) AS BIGINT) AS median_cents,
           CAST(max(m.mad_cents) AS BIGINT) AS mad_cents,
           CAST(sum(CASE WHEN d.absdev > 3 * m.mad_cents THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m ON d.grp = m.grp
    GROUP BY d.grp
    """,
    doc="Robust outlier statistics (median + MAD, the quality-filter rule "
    "that survives heavy tails where mean±k·σ breaks): per group, exact "
    "discrete median, median absolute deviation, and the count beyond "
    "3·MAD — all integer cents, so bit-stable. ONE shuffle of the raw "
    "rows (aggregates.mad_outlier_hist): the integer values collapse "
    "into a per-(group, value) count histogram; the median picks, the "
    "absdev re-key, and the outlier counts are all histogram-sized — "
    "bounded by the cents DOMAIN, never the corpus. Replaces (round 12) "
    "the two sequential exact_group_percentiles passes + cached "
    "deviation frame (4.4× at sf0.1, bit-identical); the oracle's "
    "per-group row windows remain the low-cardinality funnel this "
    "engine refuses to run on raw rows.",
)
def mad_outlier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.aggregates import mad_outlier_hist

    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        (money(F.col("l_extendedprice")) * 100).cast("long").alias("cents"),
    )
    return mad_outlier_hist(li, "grp", "cents", k_mad=3).select(
        "grp",
        "n_rows",
        F.col("median_cents").cast("long").alias("median_cents"),
        F.col("mad_cents").cast("long").alias("mad_cents"),
        "n_outliers",
    )


@register(
    "unigram_lm_surprisal",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS token
      FROM documents
    ),
    t2 AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
    freq AS (SELECT token, count(*) AS cnt FROM t2 GROUP BY 1),
    tot AS (SELECT sum(cnt) AS total FROM freq),
    vocab AS (
      SELECT token,
             CAST(floor(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) * 1e9 + 0.5)
                  AS BIGINT) AS lp
      FROM freq CROSS JOIN tot
    )
    SELECT t2.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(-sum(lp) AS BIGINT) AS surprisal_nano,
           round(CAST(-sum(lp) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e9, 6)
             AS avg_neg_logp
    FROM t2 JOIN vocab USING (token)
    GROUP BY 1
    """,
    doc="Unigram-LM surprisal per document (beyond-reference; the "
    "CCNet-style perplexity filter): corpus token counts -> quantized "
    "integer log-probs (nano-nats) -> exact per-doc accumulation. One "
    "token shuffle + one broadcast-join + one doc-keyed agg; the 'LM' "
    "is vocabulary-sized and broadcast.",
)
def unigram_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.text import unigram_lm_scores

    docs = read_table(spark, sf_dir, "documents")
    return unigram_lm_scores(docs, "doc_id", "text")


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS term
      FROM documents
    ),
    t2 AS (SELECT doc_id, term FROM toks WHERE length(term) > 0),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM t2 GROUP BY 1, 2),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
    ranked AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfq.df, nd.n,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf DESC, dfq.df ASC, tf.term ASC
             ) AS rank
      FROM tf JOIN dfq USING (term) CROSS JOIN nd
    )
    SELECT doc_id, term, tf, df, CAST(rank AS INT) AS rank,
           round(CAST(tf AS DOUBLE)
                 * ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS tfidf
    FROM ranked WHERE rank <= 3
    """,
    doc="Per-document top-3 TF-IDF terms (beyond-reference): inverted "
    "index (one (doc,term) shuffle + vocabulary-sized df broadcast) with "
    "an integer-deterministic (tf DESC, df ASC, term) ranking; the "
    "double tf*ln(N/df) score is display-only, rounded.",
)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.text import tfidf_top_terms

    docs = read_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "doc_id", "text", k=3)


@register(
    "stratified_sample_docs",
    oracle="""
    SELECT doc_id, lang, source FROM documents
    WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 's1'), 1, 8)
               AS BIGINT) % 1000000
          < CASE lang
              WHEN 'en' THEN 500000
              WHEN 'zh' THEN 1000000
              WHEN 'fr' THEN 250000
              ELSE 100000
            END
    """,
    doc="Deterministic stratified sampling (beyond-reference): per-lang "
    "keep rates via md5-bucket thresholds (en 50%, zh 100%, fr 25%, "
    "default 10%) — the corpus-rebalancing primitive. Stable across "
    "engines/reruns, no RNG; pure map-side filter, zero shuffle.",
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.sessions import stratified_sample

    docs = read_table(spark, sf_dir, "documents")
    return stratified_sample(
        docs,
        "lang",
        "doc_id",
        {"en": 0.5, "zh": 1.0, "fr": 0.25},
        default_rate=0.1,
    ).select("doc_id", "lang", "source")


@register(
    "quality_model_inference",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
             CAST(length(regexp_replace(text, '[^.,;:!?''"()]', '', 'g')) AS DOUBLE) AS punct,
             CAST(len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS DOUBLE) AS n_tokens,
             CAST(len(regexp_extract_all(text, '\\b(the|a|of|and|to|in|is)\\b')) AS DOUBLE) AS stop
      FROM documents
    )
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-(-3.0
                 + 3.0 * (alpha / n_chars)
                 + 4.0 * (stop / n_tokens)
                 + -2.0 * (punct / n_chars)
                 + 0.25 * (alpha / n_tokens)))), 6) AS prob,
           CAST(round(1.0 / (1.0 + exp(-(-3.0
                 + 3.0 * (alpha / n_chars)
                 + 4.0 * (stop / n_tokens)
                 + -2.0 * (punct / n_chars)
                 + 0.25 * (alpha / n_tokens)))), 6) >= 0.5 AS BOOLEAN) AS keep
    FROM f
    """,
    doc="Quality-classifier INFERENCE over the corpus (beyond-reference): "
    "sigmoid(w.x) with plan-time constant weights over deterministic text "
    "features — the 'run an exported fastText/logreg model on 100 TB' "
    "shape. Pure codegen Column math, zero shuffle, zero Python.",
)
def quality_model_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.text import linear_quality_probability

    docs = read_table(spark, sf_dir, "documents")
    prob = linear_quality_probability(F.col("text"))
    return docs.select(
        "doc_id",
        prob.alias("prob"),
        (prob >= F.lit(0.5)).alias("keep"),
    )


@register(
    "ann_sq8_topk",
    oracle="""
    WITH qz AS (
      SELECT vec_id,
             list_transform(embedding, x ->
               CAST(floor(CAST(x AS DOUBLE)
                          / (greatest(list_max(list_transform(embedding,
                                y -> abs(CAST(y AS DOUBLE)))), 1e-30) / 127.0)
                          + 0.5) AS INT)) AS q
      FROM embeddings
    ),
    scored AS (
      SELECT q2.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(list_zip(q2.q, c.q),
                      p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT))) AS qdot
      FROM qz c CROSS JOIN (SELECT * FROM qz WHERE vec_id % 50 = 0) q2
      WHERE q2.vec_id != c.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, qdot,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY qdot DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           CAST(qdot AS BIGINT) AS qdot
    FROM ranked WHERE rank <= 5
    """,
    doc="Int8 scalar-quantized (SQ8) top-5 by integer dot product "
    "(beyond-reference): per-vector symmetric quantization (4 bytes/dim "
    "-> 1) then exact BIGINT scoring — bit-deterministic ranking with no "
    "float ties. Map-side quantization, broadcast query side, one "
    "streaming corpus pass.",
)
def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.similarity import quantized_dot_topk

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return quantized_dot_topk(queries, emb, k=5)


from etl_cascalog_spark.operators.dedup import (  # noqa: E402
    DEFAULT_MAX_BLOCK as _EB_MAX_BLOCK,
)


@register(
    "entity_blocking_pairs",
    oracle=f"""
    WITH c AS (
      SELECT c_custkey, c_nationkey, c_mktsegment, c_name FROM customer
    ),
    -- the operator's max_block skew cap, interpolated from the SAME
    -- constant (dedup.DEFAULT_MAX_BLOCK): blocks past the cap are
    -- DROPPED by the engine, so the oracle must drop them too — the cap
    -- first binds at sf1 (~1200-row blocks), where the unmirrored
    -- oracle diverged 3.93M vs 99.6k pairs
    ok_blocks AS (
      SELECT c_nationkey, c_mktsegment FROM c
      GROUP BY 1, 2 HAVING count(*) <= {_EB_MAX_BLOCK}
    ),
    kept AS (SELECT c.* FROM c SEMI JOIN ok_blocks USING (c_nationkey, c_mktsegment))
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
    FROM kept a JOIN kept b
      ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
    WHERE a.c_custkey < b.c_custkey
      AND levenshtein(a.c_name, b.c_name) <= 2
    """,
    doc="Entity-resolution candidate pairs (beyond-reference): block on "
    "(nation, segment), verify within-block pairs by Levenshtein on the "
    "name — the blocking discipline of the LSH dedup family applied to "
    "record linkage. One block-key shuffle; quadratic only within a "
    "block, with a max_block skew cap MIRRORED in the oracle from the "
    "shared dedup.DEFAULT_MAX_BLOCK constant (a dropped block signals a "
    "too-coarse blocking key; at sf1 every nation x segment block "
    "crosses the cap's neighborhood, which is exactly the signal to "
    "switch to the finer key — see fs_linkage_scores_fine).",
)
def entity_blocking_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.dedup import blocked_entity_pairs

    cust = read_table(spark, sf_dir, "customer")
    return blocked_entity_pairs(
        cust,
        "c_custkey",
        ["c_nationkey", "c_mktsegment"],
        "c_name",
        max_dist=2,
    ).select(
        F.col("id_a"),
        F.col("id_b"),
        F.col("dist").cast("int").alias("dist"),
    )


# ---------------------------------------------------------------------------
# N. Physical layout (beyond-reference): Z-order clustering quality
# ---------------------------------------------------------------------------

from etl_cascalog_spark.operators.layout import (  # noqa: E402
    zorder_bucket_stats,
    zvalue_sql,
)

_Z_SQL = zvalue_sql("qx", "qy")
_DAYS_SQL = "datediff('day', DATE '1992-01-01', o_orderdate)"

@register(
    "zorder_layout_stats",
    oracle=f"""
    WITH b AS (
      SELECT min(o_custkey) AS lox, max(o_custkey) AS hix,
             min({_DAYS_SQL}) AS loy, max({_DAYS_SQL}) AS hiy
      FROM orders
    ), q AS (
      -- power-of-2 quantization by shift: exact integer math, the same
      -- bits Spark computes (quantize_pow2); length(bin(greatest(1,
      -- span))) is DuckDB's bit_length, Python's max(1, span)
      -- .bit_length() twin (greatest keeps span-0 domains in sync:
      -- bin(0) has length 1 but (0).bit_length() == 0)
      SELECT (o_custkey - lox)
               >> greatest(0, length(bin(greatest(1, hix - lox))) - 16) AS qx,
             ({_DAYS_SQL} - loy)
               >> greatest(0, length(bin(greatest(1, hiy - loy))) - 16) AS qy,
             o_custkey, {_DAYS_SQL} AS days
      FROM orders, b
    )
    SELECT CAST(({_Z_SQL}) // {1 << (32 - 4)} AS INT) AS z_bucket,
           count(*) AS n_rows,
           min(o_custkey) AS x_min, max(o_custkey) AS x_max,
           min(days) AS y_min, max(days) AS y_max
    FROM q
    GROUP BY 1
    """,
    doc="Z-order (Morton) layout quality report (beyond-reference, the "
    "Delta/Iceberg OPTIMIZE ZORDER BY trick from plain Column bit math): "
    "quantize (custkey, order-day) onto [0, 2^16) by pure shift "
    "(scale-proof: raw o_custkey outgrows 16 bits past ~sf0.5 and the "
    "strict zvalue guard rightly refused it at sf1 — a z-key needs "
    "RELATIVE locality only), interleave the quantized bits, split rows "
    "into the 16 top-bits z-buckets (pure map-side, no sort), and report "
    "each bucket's per-dimension min/max span in RAW units — the "
    "row-group skipping stats a z-ordered writer achieves, tight on "
    "BOTH dimensions. The domain bounds are a LAZY broadcast 1-row "
    "min/max aggregate cross-joined onto the rows (the oracle's 'FROM "
    "orders, b' shape) — zero Spark jobs at plan-build time; everything "
    "else stays map-side. Zero shuffles beyond one 16-group agg; at "
    "write time the same key feeds repartitionByRange(z)+"
    "sortWithinPartitions.",
)
def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    days = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
    # domain bounds as a LAZY broadcast 1-row aggregate (the oracle's
    # `FROM orders, b` shape) instead of a plan-build collect — zero
    # Spark jobs at DataFrame-construction time; the 1-row broadcast is
    # genuinely bounded, unlike the dup-population frames (SCALE.md).
    # The SHIFT AMOUNTS are computed inside the 1-row aggregate too, so
    # the per-row quantization is a single shiftright — zvalue references
    # each quantized input ~16x and Catalyst inlines the full expression
    # at every reference (hot-path lesson 1), so the per-row unit must
    # stay tiny; the domain guard lives in ONE filter stage below for
    # the same reason (a guarded input would inline raise_error 34x:
    # measured 1.5 -> 3.5 s at sf0.1 before this shape).
    def _shift(hi: str, lo: str) -> Column:
        span = (F.col(hi) - F.col(lo)).cast("long")
        return F.greatest(
            F.lit(0), F.length(F.bin(F.greatest(F.lit(1), span))) - F.lit(16)
        )

    bounds = (
        orders.agg(
            F.min("o_custkey").alias("__lox"),
            F.max("o_custkey").alias("__hix"),
            F.min(days).alias("__loy"),
            F.max(days).alias("__hiy"),
        )
        .select(
            "__lox",
            "__hix",
            "__loy",
            "__hiy",
            _shift("__hix", "__lox").alias("__sx"),
            _shift("__hiy", "__loy").alias("__sy"),
        )
    )
    ok = (
        (F.col("o_custkey") >= F.col("__lox"))
        & (F.col("o_custkey") <= F.col("__hix"))
        & (days >= F.col("__loy"))
        & (days <= F.col("__hiy"))
    )
    with_bounds = (
        orders.crossJoin(F.broadcast(bounds))
        # single-evaluation domain guard (assert_true yields NULL on
        # success, raises otherwise): one Filter node, never inlined
        # into the z-value bit terms
        .where(
            F.isnull(
                F.assert_true(
                    ok,
                    F.lit(
                        "zorder_layout_stats: key outside its own min/max "
                        "bounds — impossible unless the bounds aggregate "
                        "and the row scan diverged"
                    ),
                )
            )
        )
    )
    qx = F.call_function(
        "shiftright", F.col("o_custkey").cast("long") - F.col("__lox"), F.col("__sx")
    )
    qy = F.call_function(
        "shiftright", days.cast("long") - F.col("__loy").cast("long"), F.col("__sy")
    )
    return zorder_bucket_stats(
        with_bounds,
        F.col("o_custkey"),
        days,
        z_x=qx,
        z_y=qy,
        strict=False,  # domain guarded once above; q < 2^16 by the shift
    ).select(
        "z_bucket",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("x_min").cast("long").alias("x_min"),
        F.col("x_max").cast("long").alias("x_max"),
        F.col("y_min").cast("long").alias("y_min"),
        F.col("y_max").cast("long").alias("y_max"),
    )


@register(
    "boilerplate_sentence_stats",
    oracle=r"""
    WITH s AS (
      SELECT doc_id, lower(trim(sent)) AS sent
      FROM documents, unnest(string_split_regex(text, '\.\s+')) AS t(sent)
      WHERE length(trim(sent)) > 0
    ), dfs AS (
      SELECT sent, count(DISTINCT doc_id) AS docs_with FROM s GROUP BY sent
    )
    SELECT s.doc_id,
           count(*) AS n_sent,
           sum(CASE WHEN dfs.docs_with >= 5 THEN 1 ELSE 0 END) AS n_boiler,
           round(sum(CASE WHEN dfs.docs_with >= 5 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS boiler_ratio
    FROM s JOIN dfs USING (sent)
    GROUP BY s.doc_id
    """,
    doc="Cross-document boilerplate share (beyond-reference, the CCNet/"
    "RefinedWeb line-dedup trick at sentence grain): sentences in >= 5 "
    "distinct docs are boilerplate; per-doc share is the drop signal. "
    "One explode + one sentence-keyed distinct agg + join-back (shuffle "
    "reuse) + doc agg — no windows; scale variant keys the shuffle on "
    "xxhash64(sentence).",
)
def boilerplate_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.text import boilerplate_sentence_stats as bss

    docs = read_table(spark, sf_dir, "documents")
    return bss(docs, "doc_id", "text", min_docs=5)


@register(
    "hard_negative_mining",
    oracle="""
    WITH a AS (
      SELECT vec_id AS anchor_id, embedding AS av, label AS a_label
      FROM embeddings WHERE vec_id % 25 = 0
    ), c AS (
      SELECT vec_id AS negative_id, embedding AS cv, label AS c_label
      FROM embeddings
    ), scored AS (
      SELECT anchor_id, negative_id,
             list_sum(list_transform(list_zip(av, cv),
                                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(av, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      FROM c CROSS JOIN a
      WHERE a_label != c_label
    ), ranked AS (
      SELECT anchor_id, negative_id, cos,
             row_number() OVER (PARTITION BY anchor_id ORDER BY cos DESC, negative_id) AS rank
      FROM scored
    )
    SELECT anchor_id, negative_id, CAST(rank AS INT) AS rank, round(cos, 4) AS cos_sim
    FROM ranked WHERE rank <= 3
    """,
    doc="Hard-negative mining for contrastive training (beyond-reference): "
    "per anchor the 3 highest-cosine DIFFERENT-label vectors — broadcast "
    "anchors, streamed corpus, per-row norms, anchor-partitioned window "
    "top-k. This dense path is the bounded-anchor tool (lazy-enforced "
    "max_anchors); at corpus scale the anchor_filter here would cross the "
    "bound and the query is the sibling hard_negative_mining_lsh (bucket "
    "equi-join, first-class oracled entry), acceptable because any "
    "sufficiently-hard negative works.",
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.similarity import hard_negatives

    emb = read_table(spark, sf_dir, "embeddings")
    return hard_negatives(emb, anchor_filter=(F.col("vec_id") % 25 == 0), k=3).select(
        "anchor_id",
        "negative_id",
        F.col("rank").cast("int").alias("rank"),
        "cos_sim",
    )


def _hard_neg_lsh_oracle_sql() -> str:
    """DuckDB oracle for hard_negative_mining_lsh: seeded hyperplanes are
    literals (same trick as _lsh_oracle_sql), so the bucket assignment,
    bucket join, different-label filter, and per-anchor top-3 all
    reproduce exactly."""
    from etl_cascalog_spark.operators.similarity import hyperplanes

    planes = hyperplanes(dim=64, n_planes=8, seed=7)
    terms = []
    for p_idx, plane in enumerate(planes):
        arr = "[" + ",".join(repr(x) for x in plane) + "]"
        dot = (
            f"list_sum(list_transform(list_zip(embedding, {arr}), "
            "p -> CAST(p[1] AS DOUBLE) * p[2]))"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << p_idx} ELSE 0 END)")
    bucket = " + ".join(terms)
    return f"""
    WITH b AS (
      SELECT vec_id, embedding, label, CAST({bucket} AS BIGINT) AS bucket
      FROM embeddings
    ), a AS (
      SELECT vec_id AS anchor_id, embedding AS av, label AS a_label, bucket
      FROM b WHERE vec_id % 25 = 0
    ), c AS (
      SELECT vec_id AS negative_id, embedding AS cv, label AS c_label, bucket
      FROM b
    ), scored AS (
      SELECT anchor_id, negative_id,
             list_sum(list_transform(list_zip(av, cv),
                                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(av, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      FROM c JOIN a USING (bucket)
      WHERE a_label != c_label
    ), ranked AS (
      SELECT anchor_id, negative_id, cos,
             row_number() OVER (PARTITION BY anchor_id ORDER BY cos DESC, negative_id) AS rank
      FROM scored
    )
    SELECT anchor_id, negative_id, CAST(rank AS INT) AS rank, round(cos, 4) AS cos_sim
    FROM ranked WHERE rank <= 3
    """


@register(
    "hard_negative_mining_lsh",
    oracle=_hard_neg_lsh_oracle_sql(),
    doc="Hard-negative mining on the CORPUS-SCALE path (VERDICT r7 #5): "
    "candidates come from the anchor's hyperplane bucket, so the plan is "
    "a bucket equi-join — no broadcast of an unbounded anchor set, no "
    "anchors x corpus cross. This is the variant the dense "
    "hard_negative_mining raises toward past max_anchors; mining "
    "tolerates the bucket approximation by design (any sufficiently-hard "
    "different-label negative carries the contrastive gradient). Seeded "
    "hyperplanes are literals, so the oracle reproduces the bucketing.",
)
def hard_negative_mining_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.similarity import hard_negatives_lsh

    emb = read_table(spark, sf_dir, "embeddings")
    return hard_negatives_lsh(
        emb, anchor_filter=(F.col("vec_id") % 25 == 0), k=3
    ).select(
        "anchor_id",
        "negative_id",
        F.col("rank").cast("int").alias("rank"),
        "cos_sim",
    )


@register(
    "column_profile_orders",
    oracle="""
    SELECT 'o_orderkey' AS "column", count(*) AS n_rows, count(o_orderkey) AS n_non_null,
           count(DISTINCT o_orderkey) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_val, CAST(max(o_orderkey) AS VARCHAR) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*), count(o_custkey), count(DISTINCT o_custkey),
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*), count(o_orderstatus), count(DISTINCT o_orderstatus),
           min(o_orderstatus), max(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*), count(o_orderpriority), count(DISTINCT o_orderpriority),
           min(o_orderpriority), max(o_orderpriority)
    FROM orders
    """,
    doc="ANALYZE-style exact column profile (beyond-reference): rows / "
    "non-null / exact NDV / type-native min / max per column (numeric "
    "columns keep numeric ordering; stringified only at the edge) in one "
    "logical pass "
    "(Spark: single scan + Expand for the multi-distinct; the oracle "
    "states it as per-column UNION ALL). The broadcast-sizing audit "
    "tool; the 100 TB profiling pass is approx_distinct_profile (HLL++, "
    "no Expand), unit-test-pinned to ~rsd accuracy.",
)
def column_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.profiling import exact_column_profile

    orders = read_table(spark, sf_dir, "orders")
    return exact_column_profile(
        orders, ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    )


@register(
    "recency_weighted_sample",
    oracle="""
    WITH r AS (
      SELECT o_orderkey,
             greatest(datediff('day', o_orderdate, TIMESTAMP '1998-08-01 00:00:00'), 0)
               AS age
      FROM orders
    )
    SELECT o_orderkey,
           round(greatest(0.05, pow(0.5, age / 365.0)), 6) AS keep_rate
    FROM r
    WHERE CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || 'r1'), 1, 8)
               AS BIGINT) % 1000000
          < CAST(round(greatest(0.05, pow(0.5, age / 365.0)) * 1000000) AS BIGINT)
    """,
    doc="Recency-weighted corpus sampling (beyond-reference): keep "
    "probability halves per 365 days of age with a 5% floor — the "
    "freshness bias applied when mixing crawl snapshots. Deterministic "
    "md5 coin (stratified_sample discipline); pure map-side, zero "
    "shuffle, constant-folded decay curve.",
)
def recency_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.sessions import recency_weighted_sample as rws

    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return rws(
        orders, "o_orderkey", "o_orderdate", as_of="1998-08-01", half_life_days=365.0
    ).select("o_orderkey", "keep_rate")


def _ann_recall_oracle_sql(k: int = 5) -> str:
    """DuckDB oracle for ann_recall_eval: brute-force top-k and LSH top-k
    (seeded-literal hyperplanes, as in _lsh_oracle_sql) built side by side,
    then per-query hit counting — the whole eval harness reproduces."""
    from etl_cascalog_spark.operators.similarity import hyperplanes

    planes = hyperplanes(dim=64, n_planes=8, seed=7)
    terms = []
    for p_idx, plane in enumerate(planes):
        arr = "[" + ",".join(repr(x) for x in plane) + "]"
        dot = (
            f"list_sum(list_transform(list_zip(embedding, {arr}), "
            "p -> CAST(p[1] AS DOUBLE) * p[2]))"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << p_idx} ELSE 0 END)")
    bucket = " + ".join(terms)
    cos = (
        "list_sum(list_transform(list_zip(qv, cv), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) "
        "/ (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) "
        "* sqrt(list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
    )
    return f"""
    WITH b AS (
      SELECT vec_id, embedding, CAST({bucket} AS BIGINT) AS bucket FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, embedding AS qv, bucket FROM b WHERE vec_id % 50 = 0
    ), c AS (
      SELECT vec_id AS neighbor_id, embedding AS cv, bucket FROM b
    ), exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY {cos} DESC, neighbor_id) AS rank
        FROM c CROSS JOIN q WHERE query_id != neighbor_id
      ) WHERE rank <= {k}
    ), lshtop AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY {cos} DESC, neighbor_id) AS rank
        FROM c JOIN q USING (bucket) WHERE query_id != neighbor_id
      ) WHERE rank <= {k}
    )
    SELECT e.query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           round(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                 / CAST({k} AS DOUBLE), 4) AS recall_at_k
    FROM exact e LEFT JOIN lshtop l USING (query_id, neighbor_id)
    GROUP BY e.query_id
    """


@register(
    "ann_recall_eval",
    oracle=_ann_recall_oracle_sql(),
    doc="ANN recall evaluation harness (beyond-reference): per query, "
    "recall@5 of the LSH bucketed path against the brute-force ground "
    "truth — the measurement that justifies shipping an approximate "
    "index. Composes the two existing operators; at 100 TB run it on a "
    "query SAMPLE (ground truth is the expensive side) and track the "
    "recall dial vs n_planes exactly like ann_ivf_nprobe_topk's nprobe.",
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.similarity import cosine_topk, lsh_cosine_topk

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    k = 5
    exact = cosine_topk(queries, emb, k=k).select("query_id", "neighbor_id")
    lsh = lsh_cosine_topk(queries, emb, k=k, n_planes=8, dim=64, seed=7).select(
        "query_id", F.col("neighbor_id").alias("l_neighbor")
    )
    # both sides are top-k results (|queries|·k rows) — broadcast the LSH
    # side so the eval join never sort-merges
    joined = exact.join(
        F.broadcast(lsh),
        (exact["query_id"] == lsh["query_id"])
        & (exact["neighbor_id"] == lsh["l_neighbor"]),
        "left",
    ).select(exact["query_id"], "neighbor_id", "l_neighbor")
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"),
        F.sum(F.col("l_neighbor").isNotNull().cast("int")).cast("long").alias("n_hit"),
        F.round(
            F.sum(F.col("l_neighbor").isNotNull().cast("int")) / F.lit(float(k)), 4
        ).alias("recall_at_k"),
    )


def _lsh_multiprobe_oracle_sql(k: int = 5) -> str:
    """DuckDB oracle for ann_lsh_multiprobe_topk: literal hyperplanes, the
    query side unnested over its 1+n_planes single-bit-flip probe codes."""
    from etl_cascalog_spark.operators.similarity import hyperplanes

    planes = hyperplanes(dim=64, n_planes=8, seed=7)
    terms = []
    for p_idx, plane in enumerate(planes):
        arr = "[" + ",".join(repr(x) for x in plane) + "]"
        d = (
            f"list_sum(list_transform(list_zip(embedding, {arr}), "
            "p -> CAST(p[1] AS DOUBLE) * p[2]))"
        )
        terms.append(f"(CASE WHEN {d} > 0 THEN {1 << p_idx} ELSE 0 END)")
    code = " + ".join(terms)
    masks = "[" + ", ".join(str(m) for m in [0] + [1 << b for b in range(8)]) + "]"
    return f"""
    WITH b AS (
      SELECT vec_id, embedding, CAST({code} AS BIGINT) AS code FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, embedding AS qv,
             xor(code, m) AS bucket
      FROM b, unnest({masks}) AS t(m)
      WHERE vec_id % 50 = 0
    ), c AS (
      SELECT vec_id AS neighbor_id, embedding AS cv, code AS bucket FROM b
    ), scored AS (
      SELECT query_id, neighbor_id,
             list_sum(list_transform(list_zip(qv, cv),
                                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      FROM c JOIN q USING (bucket)
      WHERE query_id != neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, round(cos, 4) AS cos_sim
    FROM ranked WHERE rank <= {k}
    """


@register(
    "ann_lsh_multiprobe_topk",
    oracle=_lsh_multiprobe_oracle_sql(),
    doc="Multi-probe LSH cosine top-k (beyond-reference): each query also "
    "probes every Hamming-1 (one-bit-flip) bucket — the standard recall "
    "dial that recovers neighbors split off by a single hyperplane "
    "without adding planes or reshuffling the corpus (query side "
    "explodes ×9 and broadcasts; corpus hashed once). Recall weakly "
    "dominates single-probe on the same planes (contract-tested).",
)
def ann_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.similarity import lsh_multiprobe_topk

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return lsh_multiprobe_topk(queries, emb, k=5, n_planes=8, dim=64, seed=7)


def _pq_oracle_sql(k: int = 5, dim: int = 64, m: int = 8) -> str:
    """DuckDB oracle for ann_pq_adc_topk: the seeded codebook is literal,
    so corpus codes (first-match argmin via list_position(min)) and the
    per-query ADC lookup tables reproduce exactly."""
    from etl_cascalog_spark.operators.similarity import pq_centroids

    codebook = pq_centroids()
    d_sub = dim // m

    def l2(sub_expr: str, cent: list[float]) -> str:
        arr = "[" + ",".join(repr(x) for x in cent) + "]"
        return (
            f"list_sum(list_transform(list_zip({sub_expr}, {arr}), "
            "p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])))"
        )

    code_cols, lut_cols = [], []
    for j in range(m):
        sub = f"list_slice(embedding, {j * d_sub + 1}, {j * d_sub + d_sub})"
        dists = "[" + ", ".join(l2(sub, c) for c in codebook[j]) + "]"
        code_cols.append(
            f"CAST(list_position({dists}, list_min({dists})) - 1 AS INT) AS code_{j}"
        )
        lut_cols.append(f"{dists} AS lut_{j}")
    adc = " + ".join(f"list_extract(lut_{j}, code_{j} + 1)" for j in range(m))
    return f"""
    WITH c AS (
      SELECT vec_id AS neighbor_id, {", ".join(code_cols)} FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, {", ".join(lut_cols)}
      FROM embeddings WHERE vec_id % 50 = 0
    ), scored AS (
      SELECT query_id, neighbor_id, {adc} AS adc
      FROM c CROSS JOIN q WHERE query_id != neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id, adc,
             row_number() OVER (PARTITION BY query_id ORDER BY adc ASC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, round(adc, 4) AS adc_dist
    FROM ranked WHERE rank <= {k}
    """


@register(
    "ann_pq_adc_topk",
    oracle=_pq_oracle_sql(),
    doc="Product-quantization ADC top-k (beyond-reference): corpus stored "
    "as 8 one-byte codes per vector (vs 256 B float32 — the memory tier "
    "that makes a 100 TB vector corpus servable), queries exact, "
    "distance = sum of per-subspace LUT lookups. Corpus encodes "
    "map-side with single struct-argmin folds; each query builds its "
    "m×k_c LUT once; per candidate only m element_at + adds. Compose "
    "with the IVF cell join for candidate pruning at scale.",
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.similarity import pq_adc_topk

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return pq_adc_topk(queries, emb, k=5)


def _ivfpq_oracle_sql(k: int = 5, dim: int = 64, m: int = 8) -> str:
    """DuckDB oracle for ann_ivfpq_topk: IVF cell assignment (argmax over
    literal centroids, as _ivf_oracle_sql) + PQ codes/LUTs (as
    _pq_oracle_sql), joined on cell."""
    import math

    from etl_cascalog_spark.operators.similarity import ivf_centroids, pq_centroids

    cents = ivf_centroids(dim=dim, n_cells=8, seed=11)
    cos_terms = []
    for cent in cents:
        arr = "[" + ",".join(repr(x) for x in cent) + "]"
        d = (
            f"list_sum(list_transform(list_zip(embedding, {arr}), "
            "p -> CAST(p[1] AS DOUBLE) * p[2]))"
        )
        nc = repr(math.sqrt(sum(x * x for x in cent)))
        cos_terms.append(f"{d} / {nc}")
    cs = "[" + ", ".join(cos_terms) + "]"
    cell = f"CAST(list_position({cs}, list_max({cs})) - 1 AS INT)"

    codebook = pq_centroids()
    d_sub = dim // m

    def l2(sub_expr: str, cent: list[float]) -> str:
        arr = "[" + ",".join(repr(x) for x in cent) + "]"
        return (
            f"list_sum(list_transform(list_zip({sub_expr}, {arr}), "
            "p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])))"
        )

    code_cols, lut_cols = [], []
    for j in range(m):
        sub = f"list_slice(embedding, {j * d_sub + 1}, {j * d_sub + d_sub})"
        dists = "[" + ", ".join(l2(sub, c) for c in codebook[j]) + "]"
        code_cols.append(
            f"CAST(list_position({dists}, list_min({dists})) - 1 AS INT) AS code_{j}"
        )
        lut_cols.append(f"{dists} AS lut_{j}")
    adc = " + ".join(f"list_extract(lut_{j}, code_{j} + 1)" for j in range(m))
    return f"""
    WITH c AS (
      SELECT vec_id AS neighbor_id, {cell} AS cell, {", ".join(code_cols)}
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, {cell} AS cell, {", ".join(lut_cols)}
      FROM embeddings WHERE vec_id % 50 = 0
    ), scored AS (
      SELECT query_id, neighbor_id, {adc} AS adc
      FROM c JOIN q USING (cell) WHERE query_id != neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id, adc,
             row_number() OVER (PARTITION BY query_id ORDER BY adc ASC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, round(adc, 4) AS adc_dist
    FROM ranked WHERE rank <= {k}
    """


@register(
    "ann_ivfpq_topk",
    oracle=_ivfpq_oracle_sql(),
    doc="IVF+PQ — the production ANN index shape (FAISS IVFPQ) composed "
    "from the oracle-checked halves: candidates pruned to the query's "
    "IVF cell (equi-join, ~corpus/n_cells per query), scored by PQ "
    "asymmetric distance so the joined candidate side carries 8 bytes "
    "of codes through the shuffle, not the embedding. nprobe extends "
    "recall exactly as in ann_ivf_nprobe_topk.",
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.similarity import ivfpq_topk

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return ivfpq_topk(queries, emb, k=5)


@register(
    "backfill_plan_months",
    oracle="""
    WITH expected AS (
      SELECT last_day(CAST(unnest(generate_series(DATE '1995-01-01', DATE '2001-08-01',
                                                  INTERVAL 1 MONTH)) AS DATE)) AS spine_dt
    ), present AS (
      SELECT DISTINCT last_day(CAST(o_orderdate AS DATE)) AS spine_dt
      FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT e.spine_dt AS missing_month
    FROM expected e LEFT JOIN present p USING (spine_dt)
    WHERE p.spine_dt IS NULL
    """,
    doc="Backfill planning (beyond-reference ops shape): month partitions "
    "the sink SHOULD have (spine) anti-joined against the partitions it "
    "HAS — the gap list an incremental loader turns into ranged reloads "
    "(I5/S9). The present-side probe is a distinct over the partition "
    "column only (at a real lake: a metadata listing, no data scan); the "
    "spine broadcasts. Deliberately exercises months with zero 'F' rows.",
)
def backfill_plan_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.functions.dates import month_spine

    spine = month_spine(spark, "1995-01-01", "2001-08-01")
    present = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select(F.last_day(F.col("o_orderdate").cast("date")).alias("spine_dt"))
        .distinct()
    )
    return spine.join(present, "spine_dt", "left_anti").select(
        F.col("spine_dt").alias("missing_month")
    )


@register(
    "trend_slope_by_nation",
    oracle="""
    WITH m AS (
      SELECT n.n_name AS nation,
             datediff('month', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS x,
             CAST(o_totalprice AS DECIMAL(12,2)) AS y
      FROM orders o
      JOIN customer c ON o_custkey = c_custkey
      JOIN nation n ON c_nationkey = n_nationkey
    ), s AS (
      SELECT nation,
             count(*) AS n,
             sum(CAST(x AS BIGINT)) AS sx,
             sum(y) AS sy,
             sum(CAST(x AS BIGINT) * CAST(x AS BIGINT)) AS sxx,
             sum(CAST(x AS DECIMAL(18,2)) * y) AS sxy
      FROM m GROUP BY nation
    )
    SELECT nation,
           CAST(n AS BIGINT) AS n_orders,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope_per_month
    FROM s WHERE n * sxx - sx * sx <> 0
    """,
    doc="Per-group OLS trend slope (beyond-reference analytics): revenue "
    "trend per nation via the closed form (nΣxy−ΣxΣy)/(nΣx²−(Σx)²) with "
    "EXACT integer/decimal accumulators — double sums are partition-"
    "order dependent, exact sums make the slope bit-stable at any "
    "parallelism (one double divide at the end, rounded). One shuffle: "
    "the nation groupBy; nation (fixed 25 rows) broadcast, the "
    "customer attach a bare join (it scales with the corpus).",
)
def trend_slope_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    m = (
        # customer SCALES with the corpus (a TPC-H "dimension" only at
        # test SF) — bare equi-join, AQE decides; nation is fixed 25 rows
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            F.months_between(
                F.trunc(F.col("o_orderdate").cast("date"), "month"), F.lit("1992-01-01")
            )
            .cast("long")
            .alias("x"),
            F.col("o_totalprice").cast("decimal(12,2)").alias("y"),
        )
    )
    s = m.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast("decimal(18,2)") * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.where(den != 0).select(
        "nation",
        F.col("n").cast("long").alias("n_orders"),
        F.round(num.cast("double") / den.cast("double"), 6).alias("slope_per_month"),
    )


@register(
    "weighted_sample_docs",
    oracle="""
    SELECT doc_id, n_chars,
           round(pow(CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'w1'), 1, 12)
                          AS BIGINT) AS DOUBLE) / 281474976710656.0,
                     1.0 / CAST(n_chars AS DOUBLE)), 6) AS key_r
    FROM documents
    WHERE n_chars > 0
    ORDER BY pow(CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'w1'), 1, 12)
                      AS BIGINT) AS DOUBLE) / 281474976710656.0,
                 1.0 / CAST(n_chars AS DOUBLE)) DESC, doc_id
    LIMIT 100
    """,
    doc="Weighted sampling without replacement (Efraimidis-Spirakis A-ES, "
    "beyond-reference): key = u^(1/w) with a deterministic md5 uniform, "
    "top-100 by key = exact weighted sample (weight: n_chars — the "
    "'downsample to a token budget, long docs preferred' primitive). "
    "Map-side keys + TakeOrderedAndProject; no corpus shuffle.",
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.sessions import weighted_sample_topn

    docs = read_table(spark, sf_dir, "documents")
    return weighted_sample_topn(docs, "doc_id", F.col("n_chars"), n=100).select(
        "doc_id",
        "n_chars",
        F.round(F.col("sample_key"), 6).alias("key_r"),
    )


@register(
    "drift_binned_ks",
    oracle="""
    WITH b AS (
      SELECT CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00' THEN 'ref' ELSE 'cur' END AS period,
             least(CAST(floor(CAST(o_totalprice AS DOUBLE) / 6000.0) AS INT), 99) AS bin
      FROM orders
    ), counts AS (
      SELECT bin,
             sum(CASE WHEN period = 'ref' THEN 1 ELSE 0 END) AS n_ref,
             sum(CASE WHEN period = 'cur' THEN 1 ELSE 0 END) AS n_cur
      FROM b GROUP BY bin
    ), cum AS (
      SELECT bin,
             sum(n_ref) OVER (ORDER BY bin) AS c_ref,
             sum(n_cur) OVER (ORDER BY bin) AS c_cur,
             sum(n_ref) OVER () AS t_ref,
             sum(n_cur) OVER () AS t_cur
      FROM counts
    )
    SELECT CAST(max(t_ref) AS BIGINT) AS n_ref,
           CAST(max(t_cur) AS BIGINT) AS n_cur,
           round(max(abs(CAST(c_ref AS DOUBLE) / t_ref - CAST(c_cur AS DOUBLE) / t_cur)), 6) AS ks_stat
    FROM cum
    """,
    doc="Two-sample binned Kolmogorov-Smirnov drift check (beyond-"
    "reference QA): order-price distribution before vs after 1998-01-01 "
    "over 100 fixed-width bins — KS = max |binned-CDF delta|. Exact "
    "integer bin counts (deterministic at any parallelism; the only "
    "doubles are the final two divisions), one shuffle on the 100-bin "
    "key, windows over 100 metadata-sized rows. The pipeline gate for "
    "'did this snapshot's feature distribution move?'",
)
def drift_binned_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = read_table(spark, sf_dir, "orders")
    b = orders.select(
        F.when(
            F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"),
            F.lit("ref"),
        )
        .otherwise(F.lit("cur"))
        .alias("period"),
        F.least(
            F.floor(F.col("o_totalprice").cast("double") / F.lit(6000.0)).cast("int"),
            F.lit(99),
        ).alias("bin"),
    )
    counts = b.groupBy("bin").agg(
        F.sum((F.col("period") == "ref").cast("int")).alias("n_ref"),
        F.sum((F.col("period") == "cur").cast("int")).alias("n_cur"),
    )
    w_cum = W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    cum = counts.select(
        F.sum("n_ref").over(w_cum).alias("c_ref"),
        F.sum("n_cur").over(w_cum).alias("c_cur"),
        F.sum("n_ref").over(w_all).alias("t_ref"),
        F.sum("n_cur").over(w_all).alias("t_cur"),
    )
    return cum.agg(
        F.max("t_ref").cast("long").alias("n_ref"),
        F.max("t_cur").cast("long").alias("n_cur"),
        F.round(
            F.max(
                F.abs(
                    F.col("c_ref").cast("double") / F.col("t_ref")
                    - F.col("c_cur").cast("double") / F.col("t_cur")
                )
            ),
            6,
        ).alias("ks_stat"),
    )


@register(
    "corpus_diversity",
    oracle="""
    WITH s AS (
      SELECT source, count(*) AS n FROM documents GROUP BY source
    ), t AS (SELECT sum(n) AS total, count(*) AS k FROM s)
    SELECT CAST(t.k AS BIGINT) AS n_sources,
           CAST(t.total AS BIGINT) AS n_docs,
           round(-sum((CAST(n AS DOUBLE)/total) * ln(CAST(n AS DOUBLE)/total)), 6)
             AS entropy_nats,
           round(sum(pow(CAST(n AS DOUBLE)/total, 2)), 6) AS hhi
    FROM s, t
    GROUP BY t.k, t.total
    """,
    doc="Corpus mixing health (beyond-reference QA): Shannon entropy and "
    "Herfindahl concentration of the source distribution — the dashboard "
    "numbers behind 'is this mix diverse enough / dominated by one "
    "crawl?'. One source-keyed count agg (map-side combined), scalar "
    "totals broadcast back, Σ over #sources rows — metadata-sized after "
    "the first agg.",
)
def corpus_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    t = s.agg(F.sum("n").alias("total"), F.count(F.lit(1)).alias("k"))
    p = F.col("n").cast("double") / F.col("total")
    return (
        s.crossJoin(F.broadcast(t))
        .groupBy("k", "total")
        .agg(
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy_nats"),
            F.round(F.sum(F.pow(p, F.lit(2.0))), 6).alias("hhi"),
        )
        .select(
            F.col("k").cast("long").alias("n_sources"),
            F.col("total").cast("long").alias("n_docs"),
            "entropy_nats",
            "hhi",
        )
    )


@register(
    "pivot_counts_matrix",
    oracle="""
    SELECT source,
           sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS en,
           sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS zh,
           sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS fr,
           sum(CASE WHEN lang IS NULL OR lang NOT IN ('en','zh','fr')
                    THEN 1 ELSE 0 END) AS other
    FROM documents
    GROUP BY source
    """,
    doc="Native wide pivot (A4's columnar twin): source x language count "
    "matrix via groupBy().pivot() with an EXPLICIT value list — the "
    "explicit list keeps the plan single-pass (no values-discovery scan) "
    "and schema-stable at any data, which is the 100 TB discipline for "
    "pivot. One shuffle, map-side partial counts per (source, lang).",
)
def pivot_counts_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    tagged = docs.withColumn(
        "lang_bucket",
        F.when(F.col("lang").isin("en", "zh", "fr"), F.col("lang")).otherwise(
            F.lit("other")
        ),
    )
    out = (
        tagged.groupBy("source")
        .pivot("lang_bucket", ["en", "zh", "fr", "other"])
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "source",
        *[F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c) for c in ("en", "zh", "fr", "other")],
    )


@register(
    "corr_qty_price_by_flag",
    oracle="""
    WITH m AS (
      SELECT l_returnflag AS flag,
             CAST(l_quantity AS DECIMAL(12,2)) AS x,
             CAST(l_extendedprice AS DECIMAL(12,2)) AS y
      FROM lineitem
    ), s AS (
      SELECT flag, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy,
             sum(x * CAST(y AS DECIMAL(18,2))) AS sxy
      FROM m GROUP BY flag
    )
    SELECT flag, CAST(n AS BIGINT) AS n_rows,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS corr_qty_price
    FROM s
    WHERE (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
    """,
    doc="Pearson correlation per group with EXACT decimal accumulators "
    "(trend_slope_by_nation's sibling): all five sums are exact decimal/"
    "integer — bit-stable at any parallelism — with one sqrt+divide in "
    "double at the end. One flag-keyed shuffle with map-side partials.",
)
def corr_qty_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("decimal(12,2)").alias("x"),
        F.col("l_extendedprice").cast("decimal(12,2)").alias("y"),
    )
    s = li.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y").cast("decimal(18,2)")).alias("sxy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.where((vx > 0) & (vy > 0)).select(
        "flag",
        F.col("n").cast("long").alias("n_rows"),
        F.round(
            num.cast("double") / F.sqrt(vx.cast("double") * vy.cast("double")), 6
        ).alias("corr_qty_price"),
    )


@register(
    "dedup_cluster_sizes",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    {_CC_EDGES_CTE},
    {_cc_labels_sql()},
    labels AS (
      SELECT node AS doc_id, label AS cluster_id FROM cc_labels
    ),
    csize AS (SELECT cluster_id, count(*) AS sz FROM labels GROUP BY cluster_id)
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz - 1) AS BIGINT) AS docs_removable
    FROM csize GROUP BY sz
    """,
    doc="Dedup observability (beyond-reference): the cluster-size "
    "histogram over the connected-component clusters, plus docs_removable "
    "(size-1 per cluster) — the number a dedup run reports as its "
    "reduction. Component labels from the default large-star/small-star CC; "
    "histogram is two metadata-sized aggs on top. A huge max "
    "cluster_size here is the 'boilerplate black hole' alarm that says "
    "raise minhash bands or cap buckets.",
)
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text")
    labels = connected_components(pairs)
    csize = labels.groupBy("label").agg(F.count(F.lit(1)).alias("sz"))
    return csize.groupBy("sz").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum(F.col("sz") - 1).cast("long").alias("docs_removable"),
    ).select(F.col("sz").cast("long").alias("cluster_size"), "n_clusters", "docs_removable")


@register(
    "prefix_filter_jaccard_dedup",
    oracle=f"WITH {_SHINGLE_CTE} SELECT doc_a, doc_b, jaccard FROM jpairs",
    doc="Exact Jaccard near-dup pairs ≥ 0.7 via PREFIX FILTERING "
    "(AllPairs/PPJoin family): shingles ordered by global rarity, only "
    "each doc's first |r|−⌈t·|r|⌉+1 rarest shingles join, then full-set "
    "verification — 100% recall WITHOUT MinHash's banding probability or "
    "the inverted index's boilerplate-shingle detonation (common "
    "shingles are last in the rarity order, so they stay out of "
    "prefixes). The third dedup tier: exact like the index join, "
    "candidate-bounded like LSH.",
)
def prefix_filter_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.dedup import prefix_filter_jaccard_pairs

    docs = read_table(spark, sf_dir, "documents")
    return prefix_filter_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.7)


@register(
    "ewma_monthly_revenue",
    oracle="""
    WITH m AS (
      SELECT n_name AS nation, date_trunc('month', o_orderdate) AS mth,
             CAST(sum(o_totalprice) AS DOUBLE) AS rev
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2
    ), s AS (
      SELECT nation, count(*) AS n_months, max(mth) AS last_month,
             list(rev ORDER BY mth) AS vs
      FROM m GROUP BY nation
    )
    SELECT nation, CAST(n_months AS BIGINT) AS n_months,
           CAST(last_month AS DATE) AS last_month,
           round(list_reduce(vs, (acc, x) -> 0.3 * x + 0.7 * acc), 2)
             AS ewma_revenue
    FROM s
    """,
    doc="Exponentially-weighted moving average of monthly revenue per "
    "nation (α=0.3) — a genuinely SEQUENTIAL recurrence (each step's "
    "state feeds the next), expressed as a Catalyst fold: exact decimal "
    "monthly sums, then array_sort(collect_list) + F.aggregate per key. "
    "Distribution is BY KEY (every nation folds independently, "
    "shuffle-once), the fold itself is an in-memory array scan — the "
    "right shape for per-entity state recurrences at 100 TB (state "
    "vectors per user/doc), where the alternative (window with "
    "recursive reference) does not exist in SQL engines. Oracle mirrors "
    "the identical fold order via DuckDB list_reduce — but identical "
    "ORDER is not identical BITS: one engine may contract a*x+b*acc to "
    "fma, so the folds drift 1-2 ulps apart (first seen at sf1, where "
    "1e8-magnitude revenue left round(.,6) needing 15 significant "
    "digits — past what float64 holds through any reassociation). "
    "Rounded to CENTS (money semantics), which any realistic magnitude "
    "survives ulp noise at.",
)
def ewma_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nat = read_table(spark, sf_dir, "nation")
    monthly = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_trunc("month", F.col("o_orderdate")).alias("mth"),
        )
        .agg(F.sum("o_totalprice").cast("double").alias("rev"))
    )
    per_nation = monthly.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n_months"),
        F.max("mth").cast("date").alias("last_month"),
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("mth"), F.col("rev")))),
            lambda x: x["rev"],
        ).alias("vs"),
    )
    ewma = F.aggregate(
        F.slice(F.col("vs"), 2, F.greatest(F.size("vs") - 1, F.lit(0))),
        F.element_at(F.col("vs"), 1),
        lambda acc, x: F.lit(0.3) * x + F.lit(0.7) * acc,
    )
    return per_nation.select(
        "nation", "n_months", "last_month", F.round(ewma, 2).alias("ewma_revenue")
    )


@register(
    "copurchase_part_pairs",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 20
    """,
    doc="Market-basket co-occurrence mining: top-20 part pairs appearing "
    "in the same order. The pair explosion is bounded by order size "
    "(≤7 lineitems → ≤21 pairs per order), so the self-join on "
    "l_orderkey is one co-partitioned shuffle, pair counts map-side "
    "combine, and the top-k is TakeOrderedAndProject (no global sort). "
    "The co-occurrence primitive under item2vec-style embedding "
    "training data.",
)
def copurchase_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    op = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = op.toDF("l_orderkey", "part_a")
    b = op.toDF("l_orderkey", "part_b")
    return (
        a.join(b, on="l_orderkey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(20)
    )


@register(
    "phrase_match_docs",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS w
      FROM documents
    ), hit AS (
      SELECT doc_id,
             list_min(list_filter(range(1, len(w)),
                                  i -> w[i] = 'order' AND w[i+1] = 'fast'))
               AS first_pos
      FROM tok
    )
    SELECT doc_id, CAST(first_pos AS BIGINT) AS first_pos
    FROM hit WHERE first_pos IS NOT NULL
    """,
    doc="Phrase search ('order fast') via a POSITIONAL inverted index: "
    "tokenize once (split + filter, JVM-side), posexplode to (doc, term, "
    "pos), then adjacency = self-join on (doc_id, pos+1) between the two "
    "term postings. At 100 TB the index is built once, parquet'd "
    "partitioned by term bucket, and each phrase query is two SELECTIVE "
    "posting probes + one co-partitioned equi-join — vs a full-corpus "
    "regex scan per query. The oracle IS that naive scan (DuckDB list "
    "scan over every doc), so the index path is value-checked against "
    "first-principles. first_pos is 1-based.",
)
def phrase_match_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != ""
        ).alias("w"),
    )
    idx = toks.select("doc_id", F.posexplode("w").alias("pos", "term"))
    a = idx.where(F.col("term") == "order").select("doc_id", F.col("pos").alias("pa"))
    b = idx.where(F.col("term") == "fast").select("doc_id", F.col("pos").alias("pb"))
    return (
        a.join(b, on="doc_id")
        .where(F.col("pb") == F.col("pa") + 1)
        .groupBy("doc_id")
        .agg((F.min("pa") + 1).cast("long").alias("first_pos"))
    )


# ---------------------------------------------------------------------------
# P. Semantic dedup (k-means / SemDeDup), graph rank, resample, PassJoin,
#    VARIANT shredding (round-3 beyond-reference widening)
# ---------------------------------------------------------------------------

_KM_K = 8
_KM_ITERS = 3
_SEMDEDUP_THR = 1_500_000_000_000


def _kmeans_oracle_ctes(k: int = _KM_K, iters: int = _KM_ITERS) -> str:
    """Unrolled Lloyd's-iteration CTE chain (DuckDB). All-integer (micro-
    unit grid, trunc division — DuckDB ``//`` and Spark ``div`` both
    truncate toward zero, verified), so it hash-matches the Spark path
    exactly. Final assignment CTE is ``a{iters-1}``."""
    ctes = [
        """
    pts AS (
      SELECT vec_id AS id, CAST(z[2] AS INT) AS idx,
             CAST(round(CAST(z[1] AS DOUBLE) * 1000000, 0) AS BIGINT) AS units
      FROM (SELECT vec_id,
                   unnest(list_zip(embedding, range(1, len(embedding) + 1))) AS z
            FROM embeddings)
    ),
    seed AS (
      SELECT id, CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS cid
      FROM (SELECT DISTINCT id FROM pts ORDER BY id LIMIT {k})
    ),
    c0 AS (SELECT s.cid, p.idx, p.units FROM seed s JOIN pts p USING (id))
        """.format(k=k)
    ]
    for j in range(iters):
        if j > 0:
            # centroid update from the previous assignment: integer mean
            ctes.append(
                """
    c{j} AS (
      SELECT a.cluster AS cid, p.idx,
             CAST(sum(p.units) // count(*) AS BIGINT) AS units
      FROM a{p} a JOIN pts p USING (id)
      GROUP BY 1, 2
    )
                """.format(j=j, p=j - 1)
            )
        ctes.append(
            """
    d{j} AS (
      SELECT p.id, c.cid,
             CAST(sum((p.units - c.units) * (p.units - c.units)) AS BIGINT)
               AS dist
      FROM pts p JOIN c{j} c ON p.idx = c.idx
      GROUP BY 1, 2
    ),
    a{j} AS (
      SELECT id, cluster, dist FROM (
        SELECT id, cid AS cluster, dist,
               row_number() OVER (PARTITION BY id ORDER BY dist, cid) AS rn
        FROM d{j}
      ) WHERE rn = 1
    )
            """.format(j=j)
        )
    return ",".join(ctes)


@register(
    "semantic_dedup_kmeans",
    oracle="""
    WITH {ctes},
    fin AS (SELECT id, CAST(cluster AS INT) AS cluster FROM a{last}),
    prs AS (
      SELECT x.id AS id_a, y.id AS id_b, x.cluster
      FROM fin x JOIN fin y ON x.cluster = y.cluster AND x.id < y.id
    ),
    pd AS (
      SELECT pr.id_a, pr.id_b, pr.cluster,
             CAST(sum((pa.units - pb.units) * (pa.units - pb.units))
                  AS BIGINT) AS dist
      FROM prs pr
      JOIN pts pa ON pa.id = pr.id_a
      JOIN pts pb ON pb.id = pr.id_b AND pb.idx = pa.idx
      GROUP BY 1, 2, 3
    )
    SELECT id_a, id_b, cluster, dist FROM pd WHERE dist <= {thr}
    """.format(ctes=_kmeans_oracle_ctes(), last=_KM_ITERS - 1, thr=_SEMDEDUP_THR),
    doc="SemDeDup (Abbas et al. 2023): deterministic integer-grid k-means "
    "over the embedding corpus (k=8, 3 fixed Lloyd iterations, micro-unit "
    "quantization so every sum/divide is exact int64), then near-dup "
    "pairs WITHIN clusters only — candidate volume Σ|cluster|², never N². "
    "Per iteration: one corpus shuffle (min-by-struct assignment, "
    "map-side combinable) + one K·dim centroid aggregate broadcast back. "
    "The oracle is the same recurrence as an unrolled CTE chain — "
    "possible precisely BECAUSE the arithmetic is order-free integer.",
)
def semantic_dedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.semantic import semantic_dedup_pairs

    emb = read_table(spark, sf_dir, "embeddings")
    return semantic_dedup_pairs(
        emb, "vec_id", "embedding", dim=64, k=_KM_K, iters=_KM_ITERS,
        max_dist_units=_SEMDEDUP_THR,
    ).select(
        F.col("id_a"), F.col("id_b"),
        F.col("cluster").cast("int").alias("cluster"),
        F.col("dist").cast("long").alias("dist"),
    )


@register(
    "kmeans_cluster_profile",
    oracle="""
    WITH {ctes}
    SELECT CAST(cluster AS INT) AS cluster,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(dist) AS BIGINT) AS inertia_units,
           CAST(min(id) AS BIGINT) AS min_id,
           CAST(max(id) AS BIGINT) AS max_id
    FROM a{last}
    GROUP BY 1
    """.format(ctes=_kmeans_oracle_ctes(), last=_KM_ITERS - 1),
    doc="Fitted k-means partition diagnostics (cluster size, exact integer "
    "inertia, member id range) — what a curation pipeline inspects before "
    "setting per-cluster dedup thresholds. Same deterministic integer "
    "Lloyd's as semantic_dedup_kmeans; output is K rows.",
)
def kmeans_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.semantic import kmeans_cluster_profile

    emb = read_table(spark, sf_dir, "embeddings")
    return kmeans_cluster_profile(
        emb, "vec_id", "embedding", dim=64, k=_KM_K, iters=_KM_ITERS
    ).select(
        F.col("cluster").cast("int").alias("cluster"),
        "n_members", "inertia_units", "min_id", "max_id",
    )


@register(
    "pagerank_copurchase",
    # MATERIALIZED discipline (VERDICT r11 #1, the _cc_labels_sql
    # template): every multiply-referenced CTE is pinned — DuckDB 1.0
    # otherwise INLINES them, re-deriving the basket fan-out once per
    # iteration (the verbatim sf1 run that spun >570 s without finishing).
    # Staged this way it is the exact algebra tools/sf1_oracle.py's
    # temp-table witness ran, expressed in one verbatim statement.
    oracle="""
    WITH baskets AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    sizes AS (SELECT ok, count(*) AS n FROM baskets GROUP BY ok),
    bounded AS MATERIALIZED (
      SELECT b.ok, b.pk FROM baskets b JOIN sizes s ON b.ok = s.ok
      WHERE s.n <= 7
    ),
    edges AS MATERIALIZED (
      SELECT DISTINCT a.pk AS src, b.pk AS dst
      FROM bounded a JOIN bounded b ON a.ok = b.ok AND a.pk != b.pk
    ),
    nodes AS MATERIALIZED (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
    deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
    ce AS MATERIALIZED (
      SELECT e.src, e.dst, d.out_deg FROM edges e JOIN deg d ON e.src = d.src
    ),
    r0 AS MATERIALIZED (
      SELECT node,
             CAST(1000000000000 // (SELECT n FROM nn) AS BIGINT) AS rank_units
      FROM nodes
    ),
    s1 AS (
      SELECT ce.dst AS node, CAST(sum(r.rank_units // ce.out_deg) AS BIGINT) AS s
      FROM ce JOIN r0 r ON ce.src = r.node GROUP BY 1
    ),
    r1 AS MATERIALIZED (
      SELECT n.node,
             CAST((15 * CAST(1000000000000 // (SELECT n FROM nn) AS BIGINT)
                   + 85 * coalesce(s1.s, 0)) // 100 AS BIGINT) AS rank_units
      FROM nodes n LEFT JOIN s1 ON n.node = s1.node
    ),
    s2 AS (
      SELECT ce.dst AS node, CAST(sum(r.rank_units // ce.out_deg) AS BIGINT) AS s
      FROM ce JOIN r1 r ON ce.src = r.node GROUP BY 1
    ),
    r2 AS MATERIALIZED (
      SELECT n.node,
             CAST((15 * CAST(1000000000000 // (SELECT n FROM nn) AS BIGINT)
                   + 85 * coalesce(s2.s, 0)) // 100 AS BIGINT) AS rank_units
      FROM nodes n LEFT JOIN s2 ON n.node = s2.node
    ),
    s3 AS (
      SELECT ce.dst AS node, CAST(sum(r.rank_units // ce.out_deg) AS BIGINT) AS s
      FROM ce JOIN r2 r ON ce.src = r.node GROUP BY 1
    ),
    r3 AS (
      SELECT n.node,
             CAST((15 * CAST(1000000000000 // (SELECT n FROM nn) AS BIGINT)
                   + 85 * coalesce(s3.s, 0)) // 100 AS BIGINT) AS rank_units
      FROM nodes n LEFT JOIN s3 ON n.node = s3.node
    )
    SELECT node, rank_units FROM r3
    """,
    doc="Integer PageRank (3 fixed iterations, damping 0.85) over the "
    "part co-purchase graph — importance weights for curation sampling. "
    "Rank mass is int64 micro-units; contribution = rank div out_degree "
    "(truncating division both engines), so integer sums make the result "
    "partition-order-free — a float PageRank cannot hash-match ANY "
    "oracle. Basket pair fan-out is capped at 7 items (the max_bucket "
    "discipline); one shuffle per iteration, degrees ride on the edge "
    "row (zero per-iteration degree joins).",
)
def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.graph import copurchase_edges, pagerank_int

    li = read_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges(li, max_order_items=7)
    return pagerank_int(edges, iters=3).select(
        F.col("node").cast("long").alias("node"),
        F.col("rank_units").cast("long").alias("rank_units"),
    )


@register(
    "resample_interpolate_daily",
    oracle="""
    WITH known AS (
      SELECT n.n_name AS key, CAST(o.o_orderdate AS DATE) AS day,
             CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS v
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE day(o.o_orderdate) IN (1, 15)
      GROUP BY 1, 2
    ),
    bounds AS (SELECT key, min(day) AS d0, max(day) AS d1 FROM known GROUP BY key),
    spine AS (
      SELECT key, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds
    ),
    dense AS (
      SELECT s.key, s.day, k.v FROM spine s
      LEFT JOIN known k ON s.key = k.key AND s.day = k.day
    ),
    w AS (
      SELECT key, day, v,
             last_value(v IGNORE NULLS) OVER
               (PARTITION BY key ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             first_value(v IGNORE NULLS) OVER
               (PARTITION BY key ORDER BY day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER
               (PARTITION BY key ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
             first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER
               (PARTITION BY key ORDER BY day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM dense
    )
    SELECT key, day,
           CAST(CASE WHEN v IS NOT NULL THEN v
                ELSE pv + ((nv - pv) * date_diff('day', pd, day))
                          // date_diff('day', pd, nd)
                END AS BIGINT) AS value,
           CASE WHEN v IS NOT NULL THEN 'actual' ELSE 'interp' END AS src
    FROM w
    """,
    doc="Daily resample + linear interpolation (feature-store densify): "
    "nation revenue observed on the 1st/15th only, gap-filled to every "
    "day between each key's first and last observation. Interpolation is "
    "exact integer cents (prev + (next-prev)·offset div gap), so the "
    "DuckDB oracle matches bit-for-bit. Spine explode is map-side off a "
    "25-row bounds aggregate; the forward IGNORE-NULLS lookups run as "
    "reverse-ordered GROWING frames (one extra in-partition sort, no "
    "extra exchange) because Spark's UNBOUNDED FOLLOWING frame re-scans "
    "to the partition end per row — O(n²) per key; the dense frame is "
    "repartitioned by explicit count so AQE's byte-based coalescing "
    "cannot fold the CPU-heavy window stage into one task.",
)
def resample_interpolate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.timeseries import resample_interpolate_daily

    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    known = (
        orders.where(F.dayofmonth("o_orderdate").isin(1, 15))
        # customer scales with the corpus: bare join, AQE decides;
        # nation is fixed 25 rows
        .join(cust.select("c_custkey", "c_nationkey"),
              orders["o_custkey"] == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("key"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(
            F.sum((money(F.col("o_totalprice")) * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    return resample_interpolate_daily(known, "key", "day", "cents")


@register(
    "pigeonhole_edit_pairs",
    oracle="""
    WITH c AS (
      SELECT c_custkey AS id, substring(c_name, 10, 9) AS s,
             length(substring(c_name, 10, 9)) AS slen
      FROM customer
    ),
    segs AS (
      SELECT id, s, slen, t.i,
             substring(s, (t.i * slen) // 3 + 1,
                       ((t.i + 1) * slen) // 3 - (t.i * slen) // 3) AS seg
      FROM c, unnest([0, 1, 2]) AS t(i)
    ),
    capped AS (
      SELECT * FROM (
        SELECT *, count(*) OVER (PARTITION BY slen, i, seg) AS pn FROM segs
      ) WHERE pn <= 500
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.s AS sa, b.s AS sb
      FROM capped a JOIN capped b
        ON a.slen = b.slen AND a.i = b.i AND a.seg = b.seg AND a.id < b.id
    )
    SELECT id_a, id_b, CAST(levenshtein(sa, sb) AS INT) AS dist
    FROM cand WHERE levenshtein(sa, sb) <= 2
    """,
    doc="PassJoin-style edit-distance similarity self-join (Li et al., "
    "VLDB 2012): pigeonhole each name into 3 aligned segments — "
    "same-length strings within substitution distance 2 must agree on "
    "one segment — candidates from the (len, seg_idx, seg_val) equi-join "
    "only, verified by exact levenshtein. Segmentation runs on the "
    "9-digit key suffix (the constant 'Customer#' prefix would make "
    "every segment a degenerate posting list); max_posting=500 drops "
    "lists that are still too hot, exactly like LSH max_bucket: at "
    "100 TB a constant prefix must not emit N² candidates.",
)
def pigeonhole_edit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.dedup import pigeonhole_edit_pairs

    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", F.substring("c_name", 10, 9).alias("name_key")
    )
    return pigeonhole_edit_pairs(
        cust, "c_custkey", "name_key", n_segments=3, max_dist=2, max_posting=500
    ).select(
        "id_a", "id_b", F.col("dist").cast("int").alias("dist")
    )


@register(
    "variant_json_shred",
    oracle="""
    SELECT o_orderpriority AS prio,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
                AS BIGINT) AS sum_cents,
           min(strftime(o_orderdate, '%Y-%m-%d')) AS min_day,
           max(strftime(o_orderdate, '%Y-%m-%d')) AS max_day
    FROM orders
    GROUP BY 1
    """,
    doc="Semi-structured shredding through Spark's VARIANT type (4.x): "
    "orders are serialized to JSON, parse_json() into VARIANT, fields "
    "re-extracted with typed variant_get paths ($.prio string, $.cents "
    "long, $.d string), then aggregated. The oracle computes the same "
    "aggregate relationally, so the round-trip (construct → shred → "
    "type) is value-checked end-to-end. VARIANT's binary encoding keeps "
    "shredding JVM-side and columnar — the modern engine path for "
    "schema-on-read JSON at scale (vs per-row get_json_object string "
    "parsing).",
)
def variant_json_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    js = orders.select(
        F.to_json(
            F.struct(
                F.col("o_orderpriority").alias("prio"),
                (money(F.col("o_totalprice")) * 100)
                .cast("long")
                .alias("cents"),
                F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"),
            )
        ).alias("js")
    )
    v = js.select(F.parse_json("js").alias("v"))
    shredded = v.select(
        F.variant_get("v", "$.prio", "string").alias("prio"),
        F.variant_get("v", "$.cents", "long").alias("cents"),
        F.variant_get("v", "$.d", "string").alias("d"),
    )
    return shredded.groupBy("prio").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.min("d").alias("min_day"),
        F.max("d").alias("max_day"),
    )


@register(
    "recursive_hierarchy_rollup",
    oracle="""
    WITH RECURSIVE h AS (
      SELECT s_suppkey AS node, 0 AS depth FROM supplier WHERE s_suppkey = 0
      UNION ALL
      SELECT s.s_suppkey, h.depth + 1
      FROM supplier s JOIN h ON (s.s_suppkey // 10) = h.node
      WHERE s.s_suppkey != h.node
    )
    SELECT CAST(h.depth AS INT) AS depth,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(h.node) AS BIGINT) AS min_node,
           CAST(max(h.node) AS BIGINT) AS max_node,
           CAST(round(sum(CAST(s.s_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_bal
    FROM h JOIN supplier s ON s.s_suppkey = h.node
    GROUP BY 1
    """,
    doc="Hierarchy traversal via Spark 4's native WITH RECURSIVE (the "
    "org-chart/category-tree closure every warehouse eventually needs; "
    "pre-4.0 this took a driver-side iteration loop like "
    "connected_components): decimal-digit parent edges (node div 10) "
    "walked root-down, per-depth rollup of node counts and exact-decimal "
    "balances. The recursion's per-step join is an equi-join on the "
    "derived parent key; depth is bounded by log10(max key), so the "
    "unrolled plan is ~6 joins at any scale — Catalyst executes each "
    "step as a normal hash join over the previous frontier.",
)
def recursive_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    read_table(spark, sf_dir, "supplier").createOrReplaceTempView("v_supplier")
    return spark.sql(
        """
        WITH RECURSIVE h AS (
          SELECT s_suppkey AS node, 0 AS depth
          FROM v_supplier WHERE s_suppkey = 0
          UNION ALL
          SELECT s.s_suppkey, h.depth + 1
          FROM v_supplier s JOIN h ON (s.s_suppkey div 10) = h.node
          WHERE s.s_suppkey != h.node
        )
        SELECT CAST(h.depth AS INT) AS depth,
               CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(min(h.node) AS BIGINT) AS min_node,
               CAST(max(h.node) AS BIGINT) AS max_node,
               CAST(round(sum(CAST(s.s_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE)
                 AS total_bal
        FROM h JOIN v_supplier s ON s.s_suppkey = h.node
        GROUP BY 1
        """
    )


@register(
    "unpivot_metrics_long",
    oracle="""
    WITH wide AS (
      SELECT o_orderpriority AS prio,
             CAST(count(*) AS DOUBLE) AS n_orders,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
               AS revenue,
             CAST((2 * sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                                AS BIGINT)) * 10000 + count(*))
                  // (2 * count(*)) AS DOUBLE) / 1000000.0 AS avg_price
      FROM orders GROUP BY 1
    )
    SELECT prio, metric, val FROM wide
    UNPIVOT (val FOR metric IN (n_orders, revenue, avg_price))
    """,
    doc="Wide→long melt through the native unpivot operator (the inverse "
    "of grouped_pivot; metrics-table normalization for generic dashboard "
    "sinks): per-priority aggregates unpivoted to (key, metric, value) "
    "rows. Unpivot is an Expand node — pure map-side ×n_metrics row "
    "generation, no shuffle beyond the feeding aggregate; the oracle is "
    "DuckDB's UNPIVOT of the same wide frame. avg derives from the "
    "exact integer-cents sum, so the divide is deterministic on both "
    "engines.",
)
def unpivot_metrics_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    wide = orders.groupBy(F.col("o_orderpriority").alias("prio")).agg(
        F.count("*").cast("double").alias("n_orders"),
        dround(F.sum(money(F.col("o_totalprice")))).alias("revenue"),
        # exact integer half-away mean in micro-units (rounding-tie lesson)
        (
            F.expr(
                "(2 * sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100"
                " AS BIGINT)) * 10000 + count(*)) div (2 * count(*))"
            ).cast("double")
            / F.lit(1000000.0)
        ).alias("avg_price"),
    )
    return wide.unpivot(
        "prio", ["n_orders", "revenue", "avg_price"], "metric", "val"
    )


register(
    "neardup_clusters_star",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    {_CC_EDGES_CTE},
    {_cc_labels_sql()}
    SELECT node AS doc_id, label AS cluster_id FROM cc_labels
    """,
    doc="raw near-dup cluster labels: MinHash-LSH pairs over the whole "
    "corpus into alternating large-star/small-star connected components "
    "(Kiveris et al., SoCC 2014) — tree heights HALVE per round (O(log n) "
    "rounds regardless of component diameter), which is the difference "
    "between 4 rounds and 10⁷ rounds on a chain-shaped component at "
    "100 TB. The oracle is unrolled self-verifying label propagation; "
    "the equivalence is also property-tested on random graphs.",
)(neardup_clusters)


# ---------------------------------------------------------------------------
# Q. Product-analytics family: cohorts, paths, graph structure, rules
# ---------------------------------------------------------------------------

@register(
    "cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey AS cust,
             date_trunc('month', min(o_orderdate)) AS cohort
      FROM orders GROUP BY 1
    ),
    activity AS (
      SELECT DISTINCT o_custkey AS cust,
             date_trunc('month', o_orderdate) AS m
      FROM orders
    ),
    cohort_sizes AS (
      SELECT cohort, count(*) AS n_cohort FROM firsts GROUP BY 1
    ),
    ret AS (
      SELECT f.cohort, date_diff('month', f.cohort, a.m) AS k,
             count(DISTINCT a.cust) AS n_active
      FROM activity a JOIN firsts f ON a.cust = f.cust
      WHERE date_diff('month', f.cohort, a.m) BETWEEN 0 AND 5
      GROUP BY 1, 2
    )
    SELECT strftime(r.cohort, '%Y-%m') AS cohort_month,
           CAST(r.k AS INT) AS k,
           CAST(r.n_active AS BIGINT) AS n_active,
           CAST(s.n_cohort AS BIGINT) AS n_cohort,
           round(CAST(r.n_active AS DOUBLE) / s.n_cohort, 6) AS retention
    FROM ret r JOIN cohort_sizes s ON r.cohort = s.cohort
    """,
    doc="Cohort retention (the product-analytics staple): customers "
    "bucketed by first-order month, per-cohort share still active k "
    "months later (k ≤ 5). Two shuffles on the uniform customer key "
    "(first-month agg, distinct activity), one broadcast of the "
    "|cohorts|-row size table. Retention ratios divide exact integer "
    "counts, so the rounding is bit-stable.",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("m"),
    )
    firsts = orders.groupBy("cust").agg(F.min("m").alias("cohort"))
    activity = orders.distinct()
    sizes = firsts.groupBy("cohort").agg(F.count("*").alias("n_cohort"))
    ret = (
        activity.join(firsts, "cust")
        .withColumn(
            "k",
            F.months_between(F.col("m"), F.col("cohort")).cast("int"),
        )
        .where(F.col("k").between(0, 5))
        .groupBy("cohort", "k")
        .agg(F.count_distinct("cust").alias("n_active"))
    )
    return (
        ret.join(F.broadcast(sizes), "cohort")
        .select(
            F.date_format("cohort", "yyyy-MM").alias("cohort_month"),
            F.col("k").cast("int").alias("k"),
            F.col("n_active").cast("long").alias("n_active"),
            F.col("n_cohort").cast("long").alias("n_cohort"),
            F.round(
                F.col("n_active").cast("double") / F.col("n_cohort"), 6
            ).alias("retention"),
        )
    )


@register(
    "top_event_paths",
    oracle="""
    WITH s AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    t AS (
      SELECT user_id, ts, event_id, event_type,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    ),
    r AS (
      SELECT user_id, sid, event_type,
             row_number() OVER (PARTITION BY user_id, sid
                                ORDER BY ts, event_id) AS rn
      FROM t
    ),
    paths AS (
      SELECT user_id, sid,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM r WHERE rn <= 8 GROUP BY 1, 2
    ),
    counted AS (
      SELECT path, count(*) AS n_sessions FROM paths GROUP BY 1
    )
    SELECT path, CAST(n_sessions AS BIGINT) AS n_sessions
    FROM counted
    ORDER BY n_sessions DESC, path
    LIMIT 10
    """,
    doc="Top event-sequence paths (funnel discovery): 30-minute "
    "sessionization, each session's ordered event-type sequence "
    "(first 8 events, (ts, event_id) tie-break so the string is "
    "deterministic), global top-10 paths. One user-keyed shuffle for "
    "the session windows, one path-keyed count agg, TakeOrdered for "
    "the limit — no global sort materializes.",
)
def top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.sessions import sessionize

    events = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    s = sessionize(events, ["user_id"], "ts", gap="30 minutes")
    paths = (
        s.groupBy("user_id", "session_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs")
        )
        .select(
            F.array_join(
                F.transform(
                    F.slice("evs", 1, 8), lambda e: e["event_type"]
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("long").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(10)
    )


@register(
    "triangle_count",
    # MATERIALIZED discipline (VERDICT r11 #1): `kept` fans out into FIVE
    # consumers (wedge e1/e2/e3, node set, edge count) — DuckDB 1.0
    # inlined it, re-deriving the basket fan-out chain per consumer and
    # exhausting 59 GB of spill at sf1 (round-10 floor check). Pinned
    # MATERIALIZED, each wedge probe reads the small bounded edge table
    # and the count streams — the same staging tools/sf1_oracle.py's
    # temp-table witness proved, in one verbatim statement.
    oracle="""
    WITH baskets AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    sizes AS (SELECT ok, count(*) AS n FROM baskets GROUP BY ok),
    bounded AS MATERIALIZED (
      SELECT b.ok, b.pk FROM baskets b JOIN sizes s ON b.ok = s.ok
      WHERE s.n <= 5
    ),
    und AS MATERIALIZED (
      SELECT DISTINCT least(a.pk, b.pk) AS u, greatest(a.pk, b.pk) AS v
      FROM bounded a JOIN bounded b ON a.ok = b.ok AND a.pk < b.pk
    ),
    deg AS MATERIALIZED (
      SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM und UNION ALL SELECT v FROM und
      ) GROUP BY 1
    ),
    kept AS MATERIALIZED (
      SELECT e.u, e.v FROM und e
      JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
      WHERE du.d <= 25 AND dv.d <= 25
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM kept e1
      JOIN kept e2 ON e2.u = e1.v
      JOIN kept e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT CAST((SELECT count(*) FROM (SELECT DISTINCT u AS n FROM kept
                                       UNION SELECT v FROM kept)) AS BIGINT)
             AS n_nodes,
           CAST((SELECT count(*) FROM kept) AS BIGINT) AS n_edges,
           CAST((SELECT count(*) FROM tri) AS BIGINT) AS n_triangles
    """,
    doc="Triangle counting over the co-purchase graph (graph-structure "
    "metric behind clustering coefficients): edges oriented low-id → "
    "high-id so each triangle is counted exactly once as u<v<w, wedge "
    "join closed by an edge probe. Quadratic guards at BOTH grains — "
    "baskets ≤ 5 items before the pair fan-out, hub nodes (degree > 25) "
    "anti-joined away before the wedge join (against the bounded HEAVY "
    "set, never the corpus-proportional low-degree complement) — the "
    "same max_bucket discipline as the LSH joins; wedge volume is then "
    "Σ deg² ≤ 625·|V| by construction, at any corpus size.",
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    baskets = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    sizes = baskets.groupBy("ok").agg(F.count("*").alias("n"))
    bounded = baskets.join(
        sizes.where(F.col("n") <= 5), "ok"
    ).select("ok", "pk")
    a = bounded.alias("a")
    b = bounded.alias("b")
    und = (
        a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")))
        .select(
            F.least("a.pk", "b.pk").alias("u"),
            F.greatest("a.pk", "b.pk").alias("v"),
        )
        .distinct()
        # und feeds the degree pass AND the filter join; kept below fans
        # out into SIX consumers (wedge e1/e2/e3, node set, edge count) —
        # without materialization the basket pair fan-out re-executes per
        # branch (measured lesson 3/7). Scoped-storage releases both.
        .cache()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    # Drop hub edges via ANTI-join against the HEAVY set (deg > 25), not an
    # inner join against its complement: the low-degree set is nearly every
    # node in the graph (corpus-proportional — broadcasting it is a driver
    # OOM at 10^9 parts), while the heavy set is bounded by skew. No
    # broadcast hint — AQE converts the anti-joins when the heavy side fits.
    heavy_nodes = deg.where(F.col("d") > 25).select("node")
    kept = (
        und.join(heavy_nodes.withColumnRenamed("node", "u"), "u", "left_anti")
        .join(heavy_nodes.withColumnRenamed("node", "v"), "v", "left_anti")
        .select("u", "v")
        .cache()
    )
    e1 = kept.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = kept.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = kept.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    nodes = (
        kept.select(F.col("u").alias("n"))
        .unionByName(kept.select(F.col("v").alias("n")))
        .distinct()
    )
    return (
        nodes.agg(F.count("*").cast("long").alias("n_nodes"))
        .crossJoin(kept.agg(F.count("*").cast("long").alias("n_edges")))
        .crossJoin(tri.agg(F.count("*").cast("long").alias("n_triangles")))
    )


@register(
    "association_rules",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    sizes AS (SELECT ok, count(*) AS n FROM baskets GROUP BY ok),
    bounded AS (
      SELECT b.ok, b.pk FROM baskets b JOIN sizes s ON b.ok = s.ok
      WHERE s.n <= 7
    ),
    nb AS (SELECT count(DISTINCT ok) AS n FROM bounded),
    supp AS (SELECT pk, count(*) AS s FROM bounded GROUP BY 1),
    pair AS (
      SELECT a.pk AS ia, b.pk AS ib, count(*) AS s_ab
      FROM bounded a JOIN bounded b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2
    )
    SELECT p.ia, p.ib,
           CAST(p.s_ab AS BIGINT) AS supp_ab,
           CAST(sa.s AS BIGINT) AS supp_a,
           CAST(sb.s AS BIGINT) AS supp_b,
           round(CAST(p.s_ab AS DOUBLE) / sa.s, 6) AS conf_a_to_b,
           round(CAST(p.s_ab AS DOUBLE) * (SELECT n FROM nb)
                 / (CAST(sa.s AS DOUBLE) * sb.s), 6) AS lift
    FROM pair p
    JOIN supp sa ON sa.pk = p.ia
    JOIN supp sb ON sb.pk = p.ib
    ORDER BY supp_ab DESC, ia, ib
    LIMIT 20
    """,
    doc="Association rules over co-purchase pairs (support / confidence / "
    "lift — the Apriori first level): bounded-basket pair fan-out "
    "(≤7 items, the quadratic guard), one pair-keyed count, item "
    "supports broadcast back. All ratios divide exact integer counts, "
    "so rounding is bit-stable; top-20 by (support, pair) via "
    "TakeOrdered, no global sort.",
)
def association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    baskets = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    # basket-size cap rides on the row via one count window over the
    # ok-shuffled baskets (round 13; was groupBy-agg + join back — two
    # extra exchanges before the cache materialized, the same shape
    # graph.copurchase_edges dropped). bounded feeds four consumers (the
    # S5 count action, item supports, and both self-join sides) — cache
    # or its lineage executes per branch (released by the loops'
    # release_all_blocks)
    bounded = (
        baskets.withColumn("__n", F.count("*").over(Window.partitionBy("ok")))
        .where(F.col("__n") <= 7)
        .select("ok", "pk")
        .cache()
    )
    # basket total as a broadcast aggregate (crossJoin below), NOT an eager
    # .count() at plan-build time — single job submission (same fold as
    # pmi_copurchase / pagerank_int)
    nb = bounded.select("ok").distinct().agg(F.count("*").alias("__nb"))
    supp = bounded.groupBy("pk").agg(F.count("*").alias("s"))
    a = bounded.alias("pa")
    b = bounded.alias("pb")
    pair = (
        a.join(
            b, (F.col("pa.ok") == F.col("pb.ok")) & (F.col("pa.pk") < F.col("pb.pk"))
        )
        .groupBy(F.col("pa.pk").alias("ia"), F.col("pb.pk").alias("ib"))
        .agg(F.count("*").alias("s_ab"))
    )
    return (
        # per-item supports scale with the item vocabulary: bare id
        # equi-joins, AQE decides broadcast (nb stays — 1-row aggregate)
        pair.join(
            supp.select(F.col("pk").alias("ia"), F.col("s").alias("sa")),
            "ia",
        )
        .join(
            supp.select(F.col("pk").alias("ib"), F.col("s").alias("sb")),
            "ib",
        )
        .crossJoin(F.broadcast(nb))
        .select(
            "ia",
            "ib",
            F.col("s_ab").cast("long").alias("supp_ab"),
            F.col("sa").cast("long").alias("supp_a"),
            F.col("sb").cast("long").alias("supp_b"),
            F.round(F.col("s_ab").cast("double") / F.col("sa"), 6).alias(
                "conf_a_to_b"
            ),
            F.round(
                F.col("s_ab").cast("double") * F.col("__nb")
                / (F.col("sa").cast("double") * F.col("sb")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("supp_ab").desc(), "ia", "ib")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# S. Sketch-accelerated pipelines (beyond-reference; operators/sketches.py)
# ---------------------------------------------------------------------------

@register(
    "gopher_quality_filter",
    oracle="""
    WITH g AS (
      SELECT source,
             len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS words,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
             len(list_filter(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
                             w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words,
             len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\\.\\.\\.')) AS symbols,
             (CASE WHEN regexp_matches(lower(text), '\\bthe\\b') THEN 1 ELSE 0 END
            + CASE WHEN regexp_matches(lower(text), '\\bbe\\b') THEN 1 ELSE 0 END
            + CASE WHEN regexp_matches(lower(text), '\\bto\\b') THEN 1 ELSE 0 END
            + CASE WHEN regexp_matches(lower(text), '\\bof\\b') THEN 1 ELSE 0 END
            + CASE WHEN regexp_matches(lower(text), '\\band\\b') THEN 1 ELSE 0 END
            + CASE WHEN regexp_matches(lower(text), '\\bthat\\b') THEN 1 ELSE 0 END
            + CASE WHEN regexp_matches(lower(text), '\\bhave\\b') THEN 1 ELSE 0 END
            + CASE WHEN regexp_matches(lower(text), '\\bwith\\b') THEN 1 ELSE 0 END) AS stop_hits
      FROM documents
    ), r AS (
      SELECT source,
             (words BETWEEN 50 AND 100000) AS r_word_count,
             (alpha_chars >= words * 3 AND alpha_chars <= words * 10) AS r_mean_word_len,
             (alpha_words * 5 >= words * 4) AS r_alpha_words,
             (symbols * 10 <= words) AS r_symbol_ratio,
             (stop_hits >= 2) AS r_stopwords
      FROM g
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE r_word_count AND r_mean_word_len AND r_alpha_words
                                   AND r_symbol_ratio AND r_stopwords) AS BIGINT) AS n_pass,
           CAST(count(*) FILTER (WHERE NOT r_word_count) AS BIGINT) AS n_fail_word_count,
           CAST(count(*) FILTER (WHERE NOT r_mean_word_len) AS BIGINT) AS n_fail_mean_len,
           CAST(count(*) FILTER (WHERE NOT r_stopwords) AS BIGINT) AS n_fail_stopwords
    FROM r GROUP BY source
    """,
    doc="LLM corpus curation: the published Gopher rule-based quality "
    "filter (Rae et al. 2021, App. A1.1 — word-count bounds, mean word "
    "length 3-10, alpha-word fraction ≥0.8, symbol ratio, ≥2 stopwords) "
    "as pure codegen Column exprs, rolled up to a per-source rule-level "
    "rejection report — the dashboard a curation run ships. Map-side "
    "except one metadata-sized source agg; embarrassingly parallel at "
    "100 TB. Integer-comparison forms (alpha*5 >= words*4) keep every "
    "rule exact across engines — no float ratios.",
)
def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.text import gopher_rules

    docs = read_table(spark, sf_dir, "documents")
    r = gopher_rules(F.col("text"))
    flagged = docs.select(
        "source",
        r["r_word_count"].alias("r_word_count"),
        r["r_mean_word_len"].alias("r_mean_word_len"),
        r["pass"].alias("ok"),
        r["r_stopwords"].alias("r_stopwords"),
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_if(F.col("ok")).cast("long").alias("n_pass"),
        F.count_if(~F.col("r_word_count")).cast("long").alias("n_fail_word_count"),
        F.count_if(~F.col("r_mean_word_len")).cast("long").alias("n_fail_mean_len"),
        F.count_if(~F.col("r_stopwords")).cast("long").alias("n_fail_stopwords"),
    )


@register(
    "cms_heavy_hitters",
    oracle="""
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id HAVING count(*) >= 80
    """,
    doc="Sketch-gated exact heavy hitters: a count-min sketch "
    "(depth 4 × width 512 — KBs regardless of input size) estimates "
    "per-user event counts; keys with estimate ≥ T form a candidate set "
    "that PROVABLY contains every true heavy hitter (CMS never "
    "undercounts); one exact count over only candidate-key rows removes "
    "the false positives. Output is EXACT (oracle is the plain GROUP BY "
    "HAVING) — the sketch bounds the expensive aggregation to the "
    "candidate keys. At 100 TB: the sketch pass partial-aggregates to "
    "≤ depth×width rows per partition (metadata shuffle), the exact pass "
    "shuffles only heavy-key rows. operators/sketches.py.",
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.sketches import cms_heavy_hitter_candidates

    ev = read_table(spark, sf_dir, "events")
    cand = cms_heavy_hitter_candidates(ev, "user_id", threshold=80)
    return (
        # candidate count is bounded by n_events/threshold — which still
        # GROWS with the stream: bare semi-prune join, AQE decides
        ev.join(cand.select("user_id"), "user_id")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .where(F.col("n_events") >= 80)
    )


@register(
    "bloom_prejoin_revenue",
    oracle="""
    SELECT n_name AS nation,
           CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS building_revenue,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY n_name
    """,
    doc="Runtime bloom-filter join pruning, explicit: a 16384-bit Bloom "
    "filter built (distributed bit_or fold; only the finished 2 KB "
    "bitmap reaches the driver) over BUILDING-segment customer keys "
    "prunes orders rows BEFORE the join — the same shape as Spark's "
    "runtime.bloomFilter rewrite, made plan-visible. No false negatives "
    "(bitmap holds every true key), so prefilter → exact join ≡ exact "
    "join: the oracle is the plain 3-way join. At 100 TB the ~80% of "
    "fact rows that fail the probe never pay shuffle/join cost; probe "
    "is k=3 xxhash64+mask ops in codegen. operators/sketches.py.",
)
def bloom_prejoin_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.sketches import bloom_build, bloom_probe

    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nat = read_table(spark, sf_dir, "nation")
    building = cust.where(F.col("c_mktsegment") == "BUILDING")
    m_bits = 1 << 14
    bitmap = bloom_build(building, "c_custkey", m_bits=m_bits, k=3)
    pruned = orders.where(bloom_probe(F.col("o_custkey"), bitmap, m_bits, k=3))
    return (
        pruned.join(building, pruned["o_custkey"] == building["c_custkey"])
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            dround(F.sum(money(F.col("o_totalprice")))).alias("building_revenue"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
    )


_HLL_ALPHA_M2_SCALE = repr(0.7213 / (1.0 + 1.079 / 256) * 256 * 256 * float(1 << 25))


@register(
    "hll_distinct_users",
    oracle=f"""
    WITH h0 AS (
      SELECT event_type, CAST(user_id AS BIGINT) % 4294967296 AS h FROM events
    ),
    h1 AS (SELECT event_type, (xor(h >> 16, h) * 73244475) % 4294967296 AS h FROM h0),
    h2 AS (SELECT event_type, (xor(h >> 16, h) * 73244475) % 4294967296 AS h FROM h1),
    h AS (SELECT event_type, xor(h >> 16, h) AS hv FROM h2),
    r AS (SELECT event_type, hv >> 24 AS reg, hv % 16777216 AS w FROM h),
    rr AS (
      SELECT event_type, reg,
             max(CASE WHEN w = 0 THEN 25 ELSE 25 - length(bin(w)) END) AS mj
      FROM r GROUP BY 1, 2
    ),
    pg AS (
      SELECT event_type, count(*) AS n_present,
             sum(CAST(1 AS BIGINT) << (25 - mj)) AS s_present
      FROM rr GROUP BY 1
    ),
    est AS (
      SELECT event_type, n_present,
             {_HLL_ALPHA_M2_SCALE}
               / CAST(s_present + (256 - n_present) * 33554432 AS DOUBLE) AS e_raw
      FROM pg
    ),
    ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_distinct FROM events GROUP BY 1)
    SELECT est.event_type, ex.exact_distinct,
           CAST(n_present AS BIGINT) AS n_registers_hit,
           CAST(round(CASE WHEN e_raw <= 640.0 AND n_present < 256
                           THEN 256.0 * ln(256.0 / (256 - n_present))
                           ELSE e_raw END, 2) AS DOUBLE) AS est_distinct
    FROM est JOIN ex ON est.event_type = ex.event_type
    """,
    doc="Explicit HyperLogLog distinct-users estimate per event_type, next "
    "to the exact count for error inspection — the mergeable distinct "
    "sketch completing the CMS/Bloom family (operators/sketches.py). "
    "Portable integer register math (two-round xor-multiply avalanche "
    "hash with overflow-safe products, top-bit registers, bitlen rho, "
    "exact-BIGINT harmonic sum) means DuckDB running the same arithmetic "
    "hash-matches the ESTIMATE itself, not just row counts — unlike "
    "approx_count_distinct whose HLL++ state is engine-private. At "
    "100 TB only register maxes (≤256 rows/group/partition) cross the "
    "shuffle, and stored registers re-merge associatively for "
    "incremental refresh.",
)
def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.sketches import hll_distinct

    ev = read_table(spark, sf_dir, "events")
    est = hll_distinct(ev, "user_id", ["event_type"], p=8)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return exact.join(F.broadcast(est), "event_type").select(
        "event_type", "exact_distinct", "n_registers_hit", "est_distinct"
    )


@register(
    "compaction_binpack_plan",
    oracle="""
    WITH files AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS file_day,
             1024 + sum(strlen(props)) AS bytes
      FROM events GROUP BY 1, 2
    ),
    planned AS (
      SELECT event_type, file_day, bytes,
             CAST(floor(coalesce(sum(bytes) OVER (
               PARTITION BY event_type
               ORDER BY bytes DESC, file_day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) / 16384.0) AS BIGINT) AS bin_id
      FROM files
    )
    SELECT event_type, bin_id,
           count(*) AS n_files,
           CAST(sum(bytes) AS BIGINT) AS bin_bytes
    FROM planned GROUP BY 1, 2
    """,
    doc="Small-files compaction planning (beyond-reference layout op, next "
    "to z-order): one row per (event_type, day) 'file' with its byte "
    "size, binpacked largest-first into ~16 KB output bins via an "
    "exclusive running sum — floor(cumsum/target) — per partition "
    "(operators/layout.py binpack_plan). Pure metadata pass: even at "
    "100 TB the file listing is a few million rows, and the rewrite "
    "itself is a separate repartition-by-bin write. Deterministic "
    "next-fit-decreasing with file_day tie-breaks.",
)
def compaction_binpack_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.layout import binpack_plan

    ev = read_table(spark, sf_dir, "events")
    files = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("file_day")
    ).agg((F.lit(1024) + F.sum(F.octet_length("props"))).alias("bytes"))
    planned = binpack_plan(
        files, ["event_type"], "bytes", ["file_day"], target_bytes=16384
    )
    return planned.groupBy("event_type", "bin_id").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("bytes").cast("long").alias("bin_bytes"),
    )


@register(
    "khop_related_parts",
    oracle="""
    WITH RECURSIVE op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    sized AS (
      SELECT l_orderkey FROM op GROUP BY 1 HAVING count(*) <= 7
    ),
    bop AS (SELECT op.* FROM op JOIN sized USING (l_orderkey)),
    e AS (
      SELECT a.l_partkey AS s, b.l_partkey AS t
      FROM bop a JOIN bop b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    seeds AS (SELECT p_partkey AS node FROM part WHERE p_brand = 'Brand#13'),
    reach(node, d) AS (
      SELECT node, 0 FROM seeds
      UNION
      SELECT e.t, r.d + 1 FROM reach r JOIN e ON r.node = e.s WHERE r.d < 3
    ),
    md AS (SELECT node, CAST(min(d) AS INT) AS min_hops FROM reach GROUP BY 1)
    SELECT min_hops, count(*) AS n_parts
    FROM md GROUP BY 1
    """,
    doc="Bounded 3-hop BFS over the co-purchase graph (edges = part pairs "
    "co-ordered >= 2 times, basket-size quadratic guard <= 7): minimum "
    "hop distance from the Brand#13 seed set, histogrammed. k is a "
    "plan-time constant, so the traversal UNROLLS into 3 chained "
    "equi-joins with a distinct-collapsed frontier between hops (<= |V| "
    "rows into every join regardless of path count) — one declarative "
    "plan, no iteration machinery (operators/graph.py khop_min_dist). "
    "Oracle is DuckDB's recursive CTE with UNION dedup.",
)
def khop_related_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.graph import khop_min_dist

    op = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    sizes = op.groupBy("l_orderkey").agg(F.count("*").alias("__n"))
    bop = op.join(sizes.where(F.col("__n") <= 7), "l_orderkey")
    a = bop.select("l_orderkey", F.col("l_partkey").alias("src"))
    b = bop.select("l_orderkey", F.col("l_partkey").alias("dst"))
    edges = (
        a.join(b, "l_orderkey")
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") >= 2)
        .select("src", "dst")
        # every unrolled hop joins this frame — uncached, the basket pair
        # fan-out subtree replays once per hop (lesson 3/7)
        .cache()
    )
    seeds = (
        read_table(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#13")
        .select("p_partkey")
    )
    md = khop_min_dist(edges, seeds, k=3)
    return md.groupBy("min_hops").agg(F.count(F.lit(1)).alias("n_parts"))


@register(
    "fs_linkage_scores",
    oracle="""
    WITH pairs AS (
      SELECT levenshtein(a.c_name, b.c_name) <= 3 AS ag_name,
             abs(CAST(a.c_acctbal AS DECIMAL(12,2)) - CAST(b.c_acctbal AS DECIMAL(12,2))) <= 500 AS ag_bal,
             substr(a.c_name, 1, 8) = substr(b.c_name, 1, 8) AS ag_prefix
      FROM customer a JOIN customer b
        ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
       AND a.c_custkey < b.c_custkey
    ),
    u AS (
      SELECT CAST(sum(CASE WHEN ag_name THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS u_name,
             CAST(sum(CASE WHEN ag_bal THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS u_bal,
             CAST(sum(CASE WHEN ag_prefix THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS u_prefix
      FROM pairs
    ),
    scored AS (
      SELECT CAST(floor(
          (CASE WHEN ag_name   THEN log2(0.9 / u_name)   ELSE log2(0.1 / (1 - u_name))   END)
        + (CASE WHEN ag_bal    THEN log2(0.7 / u_bal)    ELSE log2(0.3 / (1 - u_bal))    END)
        + (CASE WHEN ag_prefix THEN log2(0.8 / u_prefix) ELSE log2(0.2 / (1 - u_prefix)) END)
      ) AS BIGINT) AS score_band
      FROM pairs, u
    )
    SELECT score_band, count(*) AS n_pairs
    FROM scored GROUP BY 1
    """,
    doc="Fellegi-Sunter probabilistic record linkage over blocked customer "
    "pairs (block = nation x segment, the entity_blocking_pairs "
    "discipline): per-field agreement (name edit distance, balance "
    "proximity, name prefix), u-probabilities estimated EXACTLY from the "
    "blocked-pair agreement rates (the all-pairs ~ non-match "
    "approximation), fixed m-priors, match weight = sum of log2 "
    "likelihood ratios, histogrammed by integer band. Pair count is "
    "quadratic IN BLOCK SIZE by semantics — the 125-key demo blocking "
    "must be swapped for a finer key at real scale (standard linkage "
    "discipline); what the engine guarantees is that the fan-out is "
    "fully parallel (ensure_min_parallelism before the self-join: the "
    "single-task version measured 372 s at sf1, parallel 22 s), the "
    "levenshtein is the banded 3-arg form (O(k*n) per pair), and the "
    "pair frame collapses to its 2^3 agreement patterns in ONE pass — "
    "u-rates, weights, histogram are 8-row metadata after that. No EM "
    "iteration, no collect.",
)
def fs_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    # The probe side MUST be parallel before the quadratic fan-out: a
    # single-file dimension scan otherwise broadcast-joins in ONE task and
    # serializes every pair's levenshtein on one core (measured at sf1:
    # 372 s single-task vs the blocked work spread over 32 cores). No-op
    # on an already-parallel 100 TB scan — same guard as the minhash path.
    a = ensure_min_parallelism(
        cust.select(
            F.col("c_custkey").alias("ka"),
            F.col("c_nationkey").alias("blk_n"),
            F.col("c_mktsegment").alias("blk_s"),
            F.col("c_name").alias("name_a"),
            money(F.col("c_acctbal")).alias("bal_a"),
        ),
        "blk_n",
        "blk_s",
    )
    b = cust.select(
        F.col("c_custkey").alias("kb"),
        F.col("c_nationkey").alias("blk_n"),
        F.col("c_mktsegment").alias("blk_s"),
        F.col("c_name").alias("name_b"),
        money(F.col("c_acctbal")).alias("bal_b"),
    )
    pairs = (
        a.join(b, ["blk_n", "blk_s"])
        .where(F.col("ka") < F.col("kb"))
        .select(
            # banded levenshtein: the 3-arg form computes only the ±3
            # diagonal band (returns -1 past the threshold) — O(k·n) per
            # pair instead of O(n²), identical <=3 truth value
            (F.expr("levenshtein(name_a, name_b, 3)") != -1).alias("ag_name"),
            (F.abs(F.col("bal_a") - F.col("bal_b")) <= 500).alias("ag_bal"),
            (F.substring("name_a", 1, 8) == F.substring("name_b", 1, 8)).alias(
                "ag_prefix"
            ),
        )
    )
    # ONE pass over the (levenshtein-bearing) pair frame: collapse to the
    # 2^3 agreement patterns. Everything after — u-rates, weights, the
    # band histogram — is 8-row metadata, so the expensive comparison
    # never runs twice (a naive scalar-agg u + join-back recomputes the
    # whole blocked self-join for each consumer).
    patterns = pairs.groupBy("ag_name", "ag_bal", "ag_prefix").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = F.sum("c").over(Window.partitionBy())
    agree_rate = lambda col: (  # noqa: E731
        F.sum(F.when(F.col(col), F.col("c")).otherwise(0)).over(Window.partitionBy())
        .cast("double")
        / tot.cast("double")
    )
    with_u = patterns.select(
        "ag_name",
        "ag_bal",
        "ag_prefix",
        "c",
        agree_rate("ag_name").alias("u_name"),
        agree_rate("ag_bal").alias("u_bal"),
        agree_rate("ag_prefix").alias("u_prefix"),
    )
    log2 = lambda c: F.log2(c)  # noqa: E731
    weight = (
        F.when(F.col("ag_name"), log2(F.lit(0.9) / F.col("u_name"))).otherwise(
            log2(F.lit(0.1) / (F.lit(1) - F.col("u_name")))
        )
        + F.when(F.col("ag_bal"), log2(F.lit(0.7) / F.col("u_bal"))).otherwise(
            log2(F.lit(0.3) / (F.lit(1) - F.col("u_bal")))
        )
        + F.when(F.col("ag_prefix"), log2(F.lit(0.8) / F.col("u_prefix"))).otherwise(
            log2(F.lit(0.2) / (F.lit(1) - F.col("u_prefix")))
        )
    )
    return (
        with_u.select(F.floor(weight).cast("long").alias("score_band"), "c")
        .groupBy("score_band")
        .agg(F.sum("c").alias("n_pairs"))
    )


_FS_FINE_ORACLE = f"""
    WITH blk AS (
      SELECT c_custkey, c_nationkey, c_mktsegment, c_name,
             CAST(c_acctbal AS DECIMAL(12,2)) AS bal,
             CAST(floor(CAST(c_acctbal AS DECIMAL(12,2)) / 1000) AS BIGINT)
               AS bband
      FROM customer
    ),
    -- the engine's max_block skew cap, interpolated from the SAME
    -- constant (dedup.DEFAULT_MAX_BLOCK — the entity_blocking_pairs
    -- lesson: an unmirrored cap first diverges at the SF where it
    -- triggers). Blocks past the cap are DROPPED: an oversize block
    -- means the blocking key is too coarse there, and emitting
    -- |block|^2 pairs is never the deployable answer.
    ok_blocks AS (
      SELECT c_nationkey, c_mktsegment, bband FROM blk
      GROUP BY 1, 2, 3 HAVING count(*) <= {_EB_MAX_BLOCK}
    ),
    kept AS (
      SELECT blk.* FROM blk
      SEMI JOIN ok_blocks USING (c_nationkey, c_mktsegment, bband)
    ),
    pairs AS (
      SELECT levenshtein(a.c_name, b.c_name) <= 3 AS ag_name,
             abs(a.bal - b.bal) <= 500 AS ag_bal,
             substr(a.c_name, 1, 8) = substr(b.c_name, 1, 8) AS ag_prefix
      FROM kept a JOIN kept b
        ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
       AND a.bband = b.bband
       AND a.c_custkey < b.c_custkey
    ),
    u AS (
      SELECT CAST(sum(CASE WHEN ag_name THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS u_name,
             CAST(sum(CASE WHEN ag_bal THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS u_bal,
             CAST(sum(CASE WHEN ag_prefix THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS u_prefix
      FROM pairs
    ),
    scored AS (
      SELECT CAST(floor(
          (CASE WHEN ag_name   THEN log2(0.9 / u_name)   ELSE log2(0.1 / (1 - u_name))   END)
        + (CASE WHEN ag_bal    THEN log2(0.7 / u_bal)    ELSE log2(0.3 / (1 - u_bal))    END)
        + (CASE WHEN ag_prefix THEN log2(0.8 / u_prefix) ELSE log2(0.2 / (1 - u_prefix)) END)
      ) AS BIGINT) AS score_band
      FROM pairs, u
    )
    SELECT score_band, count(*) AS n_pairs
    FROM scored GROUP BY 1
    """


@register(
    "fs_linkage_scores_fine",
    oracle=_FS_FINE_ORACLE,
    doc="fs_linkage_scores on the SCALE-REAL composite blocking key: "
    "nation x segment x acctbal-thousand-band (~1375 blocks vs the "
    "125-key demo — TPC-H names are uniform 'Customer#NNN', so the "
    "data-honest finer key is the balance band; real linkage would use "
    "a phonetic name key the same way). Blocking is a RECALL parameter "
    "by linkage semantics: this query's contract is the finer pair set. "
    "Pair count drops ~11x (quadratic-in-block-size: 90M -> 8M pairs at "
    "sf1), which is the difference between a demo and a deployable "
    "blocking pass; same one-pass collapse to 2^3 agreement patterns, "
    "banded 3-arg levenshtein, 8-row metadata after the fan-out. A "
    "max_block skew cap (dedup.DEFAULT_MAX_BLOCK, MIRRORED in the "
    "oracle) drops oversize blocks before the fan-out, bounding the "
    "worst case to |blocks| x cap^2 — linear in block count at any "
    "scale; it never triggers on TPC-H-shaped data through sf3 (cut "
    "semantics unit-tested synthetically).",
)
def fs_linkage_scores_fine(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    return fs_linkage_fine_frame(cust, max_block=_EB_MAX_BLOCK)


def fs_linkage_fine_frame(
    cust: DataFrame, max_block: int = 1000
) -> DataFrame:
    """The fs_linkage_scores_fine plan, parametric in the ``max_block``
    skew cap so the cap's CUT semantics are unit-testable below the
    shipped SFs (the default never triggers on TPC-H-shaped data until
    far past sf3 — it exists to bound the 100 TB worst case: with every
    block ≤ cap, the pair count is ≤ |blocks| × cap², linear in block
    count instead of quadratic in the largest block)."""
    bband = F.floor(money(F.col("c_acctbal")) / 1000).cast("long")
    blk = cust.select(
        "c_custkey",
        F.col("c_nationkey").alias("blk_n"),
        F.col("c_mktsegment").alias("blk_s"),
        bband.alias("blk_b"),
        "c_name",
        money(F.col("c_acctbal")).alias("bal"),
    )
    # skew cap mirrored in the oracle (dedup.DEFAULT_MAX_BLOCK): drop
    # oversize blocks BEFORE the quadratic fan-out — same discipline as
    # blocked_entity_pairs / max_bucket
    ok_blocks = (
        blk.groupBy("blk_n", "blk_s", "blk_b")
        .agg(F.count(F.lit(1)).alias("__bn"))
        .where(F.col("__bn") <= max_block)
        .select("blk_n", "blk_s", "blk_b")
    )
    kept = blk.join(ok_blocks, ["blk_n", "blk_s", "blk_b"], "left_semi")
    a = ensure_min_parallelism(
        kept.select(
            F.col("c_custkey").alias("ka"),
            "blk_n",
            "blk_s",
            "blk_b",
            F.col("c_name").alias("name_a"),
            F.col("bal").alias("bal_a"),
        ),
        "blk_n",
        "blk_s",
    )
    b = kept.select(
        F.col("c_custkey").alias("kb"),
        "blk_n",
        "blk_s",
        "blk_b",
        F.col("c_name").alias("name_b"),
        F.col("bal").alias("bal_b"),
    )
    pairs = (
        a.join(b, ["blk_n", "blk_s", "blk_b"])
        .where(F.col("ka") < F.col("kb"))
        .select(
            (F.expr("levenshtein(name_a, name_b, 3)") != -1).alias("ag_name"),
            (F.abs(F.col("bal_a") - F.col("bal_b")) <= 500).alias("ag_bal"),
            (F.substring("name_a", 1, 8) == F.substring("name_b", 1, 8)).alias(
                "ag_prefix"
            ),
        )
    )
    patterns = pairs.groupBy("ag_name", "ag_bal", "ag_prefix").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = F.sum("c").over(Window.partitionBy())
    agree_rate = lambda col: (  # noqa: E731
        F.sum(F.when(F.col(col), F.col("c")).otherwise(0)).over(Window.partitionBy())
        .cast("double")
        / tot.cast("double")
    )
    with_u = patterns.select(
        "ag_name",
        "ag_bal",
        "ag_prefix",
        "c",
        agree_rate("ag_name").alias("u_name"),
        agree_rate("ag_bal").alias("u_bal"),
        agree_rate("ag_prefix").alias("u_prefix"),
    )
    log2 = lambda c: F.log2(c)  # noqa: E731
    weight = (
        F.when(F.col("ag_name"), log2(F.lit(0.9) / F.col("u_name"))).otherwise(
            log2(F.lit(0.1) / (F.lit(1) - F.col("u_name")))
        )
        + F.when(F.col("ag_bal"), log2(F.lit(0.7) / F.col("u_bal"))).otherwise(
            log2(F.lit(0.3) / (F.lit(1) - F.col("u_bal")))
        )
        + F.when(F.col("ag_prefix"), log2(F.lit(0.8) / F.col("u_prefix"))).otherwise(
            log2(F.lit(0.2) / (F.lit(1) - F.col("u_prefix")))
        )
    )
    return (
        with_u.select(F.floor(weight).cast("long").alias("score_band"), "c")
        .groupBy("score_band")
        .agg(F.sum("c").alias("n_pairs"))
    )


from etl_cascalog_spark.operators.sketches import portable_hash32_sql as _ph32_sql  # noqa: E402


@register(
    "hash_sample_estimate",
    oracle=f"""
    WITH h AS (
      SELECT o_orderpriority, o_totalprice,
             ({_ph32_sql('o_orderkey')}) % 100 < 10 AS in_sample
      FROM orders
    )
    SELECT o_orderpriority,
           count(*) AS n_exact,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS rev_exact,
           sum(CASE WHEN in_sample THEN 1 ELSE 0 END) AS n_sampled,
           sum(CASE WHEN in_sample THEN 1 ELSE 0 END) * 10 AS n_est,
           CAST(round(sum(CASE WHEN in_sample THEN CAST(o_totalprice AS DECIMAL(12,2))
                               ELSE CAST(0 AS DECIMAL(12,2)) END) * 10, 2) AS DOUBLE) AS rev_est
    FROM h GROUP BY 1
    """,
    doc="Deterministic 10% hash sampling (portable_hash32 on the order "
    "key, sketches.py) with scaled estimates next to exact values — the "
    "repeatable-experiment sampling primitive: the sample is a pure "
    "function of the key, so reruns, engines, and downstream joins all "
    "select the SAME rows (unlike rand()-based sampling, which cannot be "
    "oracle-checked at all). Map-side filter + one agg; at 100 TB the "
    "sample predicate rides the scan and costs nothing.",
)
def hash_sample_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.sketches import portable_hash32

    orders = read_table(spark, sf_dir, "orders")
    price = money(F.col("o_totalprice"))
    zero = F.lit(0).cast("decimal(12,2)")
    in_sample = F.pmod(portable_hash32(F.col("o_orderkey")), F.lit(100)) < 10
    return (
        orders.select("o_orderpriority", price.alias("p"), in_sample.alias("s"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_exact"),
            dround(F.sum("p")).alias("rev_exact"),
            F.sum(F.when(F.col("s"), 1).otherwise(0)).alias("n_sampled"),
            (F.sum(F.when(F.col("s"), 1).otherwise(0)) * 10).alias("n_est"),
            dround(F.sum(F.when(F.col("s"), F.col("p")).otherwise(zero)) * 10).alias(
                "rev_est"
            ),
        )
    )


@register(
    "order_interval_concurrency",
    oracle="""
    WITH iv AS (
      SELECT o.o_orderkey,
             CAST(o.o_orderdate AS DATE) AS open_day,
             CAST(max(l.l_shipdate) AS DATE) + 1 AS close_day
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ),
    deltas AS (
      SELECT open_day AS day, CAST(1 AS BIGINT) AS d FROM iv
      UNION ALL
      SELECT close_day, -1 FROM iv
    ),
    daily AS (SELECT day, sum(d) AS net FROM deltas GROUP BY day),
    run AS (
      SELECT day, sum(net) OVER (ORDER BY day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open_now
      FROM daily
    )
    SELECT strftime(day, '%Y-%m') AS month,
           CAST(max(open_now) AS BIGINT) AS peak_open_orders
    FROM run GROUP BY 1
    """,
    doc="Sweep-line interval concurrency: peak simultaneously-open orders "
    "per month (open = orderdate, close = last lineitem shipdate). The "
    "classic +1/-1 event encoding replaces the quadratic interval "
    "self-join; after the per-day net agg only |distinct days| rows "
    "remain (~2.5k regardless of input size — bounded by the calendar, "
    "not the data), so the single-partition running-sum window is "
    "metadata-sized at any scale. The fact tables only pay one "
    "orderkey-grouped max and one day-grouped sum.",
)
def order_interval_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    iv = (
        li.groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("close_ts"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.to_date("o_orderdate").alias("open_day"),
            F.date_add(F.to_date("close_ts"), 1).alias("close_day"),
        )
    )
    deltas = iv.select(F.col("open_day").alias("day"), F.lit(1).alias("d")).unionByName(
        iv.select(F.col("close_day").alias("day"), F.lit(-1).alias("d"))
    )
    daily = deltas.groupBy("day").agg(F.sum("d").alias("net"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    run = daily.select("day", F.sum("net").over(w).alias("open_now"))
    return run.groupBy(F.date_format("day", "yyyy-MM").alias("month")).agg(
        F.max("open_now").cast("long").alias("peak_open_orders")
    )


@register(
    "rolling_distinct_users_hll",
    oracle=f"""
    WITH act AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM act),
    sevens AS (SELECT unnest([0, 1, 2, 3, 4, 5, 6]) AS i),
    exact AS (
      SELECT a.day + s.i AS day, count(DISTINCT a.user_id) AS exact_rolling7
      FROM act a CROSS JOIN sevens s
      GROUP BY 1
    ),
    h AS (
      SELECT day, ({_ph32_sql('user_id')}) AS hv FROM act
    ),
    regs AS (
      SELECT day, hv >> 24 AS reg,
             max(CASE WHEN hv % 16777216 = 0 THEN 25
                      ELSE 25 - length(bin(hv % 16777216)) END) AS mj
      FROM h GROUP BY 1, 2
    ),
    merged AS (
      SELECT r.day + s.i AS day, r.reg, max(r.mj) AS mj
      FROM regs r CROSS JOIN sevens s
      GROUP BY 1, 2
    ),
    pg AS (
      SELECT day, count(*) AS n_present,
             sum(CAST(1 AS BIGINT) << (25 - mj)) AS s_present
      FROM merged GROUP BY 1
    ),
    est AS (
      SELECT day, n_present,
             {_HLL_ALPHA_M2_SCALE}
               / CAST(s_present + (256 - n_present) * 33554432 AS DOUBLE) AS e_raw
      FROM pg
    )
    SELECT strftime(d.day, '%Y-%m-%d') AS day,
           e.exact_rolling7,
           CAST(est.n_present AS BIGINT) AS n_registers_hit,
           CAST(round(CASE WHEN est.e_raw <= 640.0 AND est.n_present < 256
                           THEN 256.0 * ln(256.0 / (256 - est.n_present))
                           ELSE est.e_raw END, 2) AS DOUBLE) AS est_rolling7
    FROM days d
    JOIN exact e ON e.day = d.day
    JOIN est    ON est.day = d.day
    """,
    doc="Rolling 7-day distinct users via HLL REGISTER MERGE: daily "
    "register frames (hll_registers) are expanded to the 7 windows each "
    "day covers and re-maxed per (window, register), then estimated "
    "(hll_estimate) — the mergeability payoff: each day's raw keys are "
    "hashed ONCE, and a 7-day distinct needs only a 256-row-per-day "
    "register union, where exact rolling distinct must re-touch every "
    "raw key per window (here the exact twin runs beside it for error "
    "inspection; at 100 TB you'd store the daily registers and never "
    "re-scan). All math portable — DuckDB reproduces estimates "
    "bit-for-bit. Output restricted to days present in the data.",
)
def rolling_distinct_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.sketches import hll_estimate, hll_registers

    ev = read_table(spark, sf_dir, "events")
    act = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    days = act.select("day").distinct()
    seven = F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i")

    exact = (
        act.select("day", "user_id", seven)
        .groupBy(F.date_add("day", F.col("i")).alias("day"))
        .agg(F.countDistinct("user_id").alias("exact_rolling7"))
    )
    regs = hll_registers(act, "user_id", ["day"], p=8)
    merged = (
        regs.select("day", "__reg", "__mj", seven)
        .groupBy(F.date_add("day", F.col("i")).alias("day"), "__reg")
        .agg(F.max("__mj").alias("__mj"))
    )
    est = hll_estimate(merged, ["day"], p=8)
    return (
        days.join(exact, "day")
        .join(est, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "exact_rolling7",
            "n_registers_hit",
            F.col("est_distinct").alias("est_rolling7"),
        )
    )


@register(
    "ivm_aggregate_maintenance",
    oracle=f"""
    WITH tagged AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(o_totalprice AS DECIMAL(12,2)) AS price,
             ({_ph32_sql('o_orderkey')}) % 10 AS bucket
      FROM orders
    ),
    final_state AS (
      SELECT o_orderkey, o_orderpriority,
             CASE WHEN bucket = 0 THEN price + 100 ELSE price END AS price
      FROM tagged
      UNION ALL
      SELECT o_orderkey + 100000000, o_orderpriority, price
      FROM tagged WHERE bucket = 1
    )
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(round(sum(price), 2) AS DOUBLE) AS total_price
    FROM final_state GROUP BY 1
    """,
    doc="Incremental view maintenance for algebraic aggregates: the "
    "stored per-priority (count, sum) state is MAINTAINED from a CDC "
    "delta — restatements contribute (new - old) to the sum and nothing "
    "to the count, inserts contribute (+1, +new) — never rescanning the "
    "base fact. The oracle RECOMPUTES the aggregate from the fully "
    "applied table, so the hash match is a proof that maintenance ≡ "
    "recomputation (count/sum are abelian-group aggregates; min/max "
    "would need the delete-rescan path). The delta derives "
    "deterministically from portable_hash32 buckets: bucket 0 rows are "
    "price restatements (+100), bucket 1 rows spawn new orders under "
    "shifted keys. At 100 TB this is the difference between touching "
    "|delta| rows and re-aggregating the world every refresh.",
)
def ivm_aggregate_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.sketches import portable_hash32

    orders = read_table(spark, sf_dir, "orders")
    tagged = orders.select(
        "o_orderkey",
        "o_orderpriority",
        money(F.col("o_totalprice")).alias("price"),
        F.pmod(portable_hash32(F.col("o_orderkey")), F.lit(10)).alias("bucket"),
    )
    # stored aggregate state over the base fact (built once, then kept)
    base_state = tagged.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"), F.sum("price").alias("s")
    )
    # CDC delta, aggregated to per-group (dn, ds) contributions:
    #   restatement (bucket 0): dn = 0, ds = new - old = +100
    #   insert      (bucket 1): dn = +1, ds = +new
    hundred = F.lit(100).cast("decimal(12,2)")
    zero_d = F.lit(0).cast("decimal(12,2)")
    delta = (
        tagged.where(F.col("bucket").isin(0, 1))
        .select(
            "o_orderpriority",
            F.when(F.col("bucket") == 1, 1).otherwise(0).alias("dn"),
            F.when(F.col("bucket") == 0, hundred)
            .otherwise(F.col("price").cast("decimal(12,2)"))
            .alias("ds"),
        )
        .groupBy("o_orderpriority")
        .agg(F.sum("dn").alias("dn"), F.sum(F.col("ds")).alias("ds"))
    )
    merged = (
        base_state.join(delta, "o_orderpriority", "left")
        .select(
            "o_orderpriority",
            (F.col("n") + F.coalesce(F.col("dn"), F.lit(0))).alias("n_orders"),
            dround(
                F.col("s").cast("decimal(22,2)")
                + F.coalesce(F.col("ds"), zero_d).cast("decimal(22,2)")
            ).alias("total_price"),
        )
    )
    return merged


@register(
    "seasonal_anomaly_days",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    keyed AS (
      SELECT event_type, day, n,
             date_diff('day', DATE '1970-01-01', day) % 7 AS dow
      FROM daily
    ),
    base AS (
      SELECT event_type, dow,
             count(*) AS cnt, sum(n) AS s, sum(n * n) AS ss
      FROM keyed GROUP BY 1, 2
    )
    SELECT k.event_type, strftime(k.day, '%Y-%m-%d') AS day, k.n,
           (k.n * b.cnt - b.s) * (k.n * b.cnt - b.s)
             > 4 * (b.cnt * b.ss - b.s * b.s) AS anomalous
    FROM keyed k JOIN base b
      ON k.event_type = b.event_type AND k.dow = b.dow
    """,
    doc="Seasonal anomaly detection: each (event_type, day) count vs its "
    "day-of-week baseline, flagged when it sits more than 2 population "
    "standard deviations out. The z-test is cross-multiplied into EXACT "
    "BIGINT: (n*cnt - sum)^2 > 4*(cnt*sumsq - sum^2) — no float mean, "
    "no float stddev, no rounding boundary, so both engines agree "
    "bit-for-bit on every flag. Day-of-week derives from epoch-day % 7 "
    "(portable; calendar dow functions disagree on week start across "
    "engines — measured gotcha). Two metadata-sized aggs; the fact pays "
    "one (type, day) groupBy.",
)
def seasonal_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").cast("long").alias("n"))
    keyed = daily.withColumn(
        "dow", F.pmod(F.datediff("day", F.lit("1970-01-01").cast("date")), F.lit(7))
    )
    base = keyed.groupBy("event_type", "dow").agg(
        F.count("*").alias("cnt"),
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("ss"),
    )
    dev = F.col("n") * F.col("cnt") - F.col("s")
    var_scaled = F.col("cnt") * F.col("ss") - F.col("s") * F.col("s")
    return keyed.join(F.broadcast(base), ["event_type", "dow"]).select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n",
        (dev * dev > F.lit(4) * var_scaled).alias("anomalous"),
    )


@register(
    "join_size_estimate",
    oracle="""
    WITH h AS (
      SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY 1
    ),
    tot AS (
      SELECT sum(c * c) AS est_selfjoin_rows,
             count(*) AS n_keys,
             sum(c) AS n_rows
      FROM h
    ),
    top AS (
      SELECT l_partkey AS heaviest_key, c * c AS heaviest_contrib
      FROM h ORDER BY c DESC, l_partkey LIMIT 1
    )
    SELECT CAST(tot.est_selfjoin_rows AS BIGINT) AS est_selfjoin_rows,
           CAST(tot.n_keys AS BIGINT) AS n_keys,
           CAST(tot.n_rows AS BIGINT) AS n_rows,
           top.heaviest_key,
           CAST(top.heaviest_contrib AS BIGINT) AS heaviest_contrib
    FROM tot CROSS JOIN top
    """,
    doc="Join-size pre-flight: the EXACT output cardinality of the "
    "l_partkey self-join (the co-occurrence/pair-mining shape) computed "
    "from the per-key histogram — sum(c_k^2) — at groupBy cost, before "
    "any join runs, plus the heaviest key's contribution (the skew "
    "alarm). This is the planning probe behind every quadratic guard in "
    "the dedup/graph family: if est_selfjoin_rows or heaviest_contrib "
    "blows past budget, you cap/salt BEFORE paying the shuffle. "
    "Metadata-sized everything after the one key groupBy.",
)
def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    h = li.groupBy("l_partkey").agg(F.count("*").alias("c"))
    tot = h.agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("est_selfjoin_rows"),
        F.count("*").cast("long").alias("n_keys"),
        F.sum("c").cast("long").alias("n_rows"),
    )
    top = (
        h.orderBy(F.col("c").desc(), F.col("l_partkey"))
        .limit(1)
        .select(
            F.col("l_partkey").alias("heaviest_key"),
            (F.col("c") * F.col("c")).cast("long").alias("heaviest_contrib"),
        )
    )
    return tot.join(F.broadcast(top))


@register(
    "keyset_pagination_page2",
    oracle="""
    WITH ranked AS (
      SELECT o_orderkey, o_totalprice,
             row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    )
    SELECT o_orderkey, o_totalprice
    FROM ranked WHERE rn BETWEEN 11 AND 20
    """,
    doc="Keyset (cursor) pagination: page 2 of the (totalprice DESC, "
    "orderkey) listing fetched as cursor-predicate + top-10 — strictly "
    "after page 1's last row via the lexicographic keyset condition "
    "(p < c) OR (p = c AND k > ck) — NOT as OFFSET 10. The oracle IS "
    "the offset/row_number formulation, so the hash match proves the "
    "keyset page equals the offset page. Scale story: offset-N makes "
    "every page scan and sort N+page rows (page 10^6 touches 10^7), "
    "while the keyset predicate pushes into the scan and each page is "
    "a constant-cost TakeOrderedAndProject — the only pagination that "
    "survives a 100 TB listing. Cursor derives in-plan (rank-10 row, "
    "single-row broadcast), no driver round-trip.",
)
def keyset_pagination_page2(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    page1 = orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey")).limit(10)
    cursor = (
        page1.orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey").desc())
        .limit(1)
        .select(
            F.col("o_totalprice").alias("c_price"), F.col("o_orderkey").alias("c_key")
        )
    )
    after_cursor = (F.col("o_totalprice") < F.col("c_price")) | (
        (F.col("o_totalprice") == F.col("c_price"))
        & (F.col("o_orderkey") > F.col("c_key"))
    )
    return (
        orders.join(F.broadcast(cursor))
        .where(after_cursor)
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "split_leakage_audit",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    splits AS (
      SELECT doc_id,
             CASE WHEN b < 8000 THEN 'train'
                  WHEN b < 9000 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id,
                   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'v1'), 1, 8) AS BIGINT)
                   % 10000 AS b
            FROM documents)
    )
    SELECT sa.split AS split_a, sb.split AS split_b,
           count(*) AS n_pairs,
           sa.split <> sb.split AS leaky
    FROM jpairs p
    JOIN splits sa ON sa.doc_id = p.doc_a
    JOIN splits sb ON sb.doc_id = p.doc_b
    GROUP BY 1, 2, 4
    """,
    doc="Train/test split LEAKAGE AUDIT: exact-Jaccard near-dup pairs "
    "(the ngram_jaccard_dedup baseline, j >= 0.7) joined to the "
    "deterministic hash_split assignment on both sides, counted per "
    "(split_a, split_b) cell — every off-diagonal cell is an eval "
    "contamination channel (a test doc whose near-duplicate was "
    "trained on). This is the audit that motivates keying hash_split "
    "on the dedup CLUSTER id rather than the raw doc id "
    "(train_split_assignment doc); run it after any split to prove the "
    "off-diagonal is empty — or how bad it is. The split lookup is "
    "corpus-sized, so it attaches via BARE id equi-joins (AQE decides "
    "broadcast at runtime); the pair pass is the audited LSH machinery.",
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.dedup import jaccard_pairs
    from etl_cascalog_spark.operators.sessions import hash_split

    docs = read_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.7)
    splits = hash_split(
        docs.select("doc_id"), "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1},
        salt="v1",
    )
    # splits is CORPUS-sized (one row per doc): no broadcast hint — the
    # attach is a plain id equi-join; AQE broadcasts at runtime only when
    # the side fits (SCALE.md "Never force-broadcast the dup population")
    sa = splits.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    sb = splits.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .groupBy(
            "split_a",
            "split_b",
            (F.col("split_a") != F.col("split_b")).alias("leaky"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select("split_a", "split_b", "n_pairs", "leaky")
    )


@register(
    "cluster_keyed_split_audit",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    {_CC_EDGES_CTE},
    {_cc_labels_sql()},
    labels AS (
      SELECT node AS doc_id, label AS cluster_id FROM cc_labels
    ),
    keys AS (
      SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS k
      FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
    ),
    splits AS (
      SELECT doc_id,
             CASE WHEN b < 8000 THEN 'train'
                  WHEN b < 9000 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id,
                   CAST('0x' || substr(md5(CAST(k AS VARCHAR) || 'v1'), 1, 8) AS BIGINT)
                   % 10000 AS b
            FROM keys)
    )
    SELECT sa.split AS split_a, sb.split AS split_b,
           count(*) AS n_pairs,
           sa.split <> sb.split AS leaky
    FROM jpairs p
    JOIN splits sa ON sa.doc_id = p.doc_a
    JOIN splits sb ON sb.doc_id = p.doc_b
    GROUP BY 1, 2, 4
    """,
    doc="The FIX for split_leakage_audit, proven by re-audit: hash_split "
    "keyed on the connected-component CLUSTER id (raw doc_id only for "
    "singletons), so every near-dup pair shares a split key by "
    "construction and the off-diagonal of the leakage matrix is exactly "
    "empty — the hash match against the unrolled self-verifying "
    "label-propagation oracle (_cc_labels_sql) certifies "
    "it. This is the leakage-safe production split recipe the "
    "train_split_assignment doc promises; same plan machinery as "
    "dedup_cluster_sizes plus bare id equi-join attaches — the label "
    "and split sides scale with the corpus, so no mandatory broadcast "
    "hints (AQE decides at runtime).",
)
def cluster_keyed_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.dedup import connected_components, jaccard_pairs
    from etl_cascalog_spark.operators.sessions import hash_split

    docs = read_table(spark, sf_dir, "documents")
    # pairs feed connected_components AND the final leakage matrix join:
    # cache, or the whole shingle self-join executes twice (released by
    # the bench/oracle loops' release_all_blocks)
    pairs = jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.7).cache()
    labels = connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("label")
    )
    # labels is proportional to the near-dup population and splits is
    # corpus-sized: bare id equi-joins, never a mandatory broadcast hint —
    # AQE converts to broadcast at runtime only when the side fits
    # (SCALE.md "Never force-broadcast the dup population")
    keyed = docs.select("doc_id").join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("label", "doc_id").alias("split_key")
    )
    splits = hash_split(
        keyed, "split_key", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="v1"
    ).select("doc_id", "split")
    sa = splits.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    sb = splits.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .groupBy(
            "split_a",
            "split_b",
            (F.col("split_a") != F.col("split_b")).alias("leaky"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select("split_a", "split_b", "n_pairs", "leaky")
    )


@register(
    "per_group_sample",
    oracle=f"""
    WITH h AS (
      SELECT source, doc_id,
             ({_ph32_sql('doc_id')}) AS hv
      FROM documents
    ),
    ranked AS (
      SELECT source, doc_id,
             row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rn
      FROM h
    )
    SELECT source, doc_id, CAST(rn AS INT) AS rn
    FROM ranked WHERE rn <= 3
    """,
    doc="Deterministic per-group sample: 3 documents per source, picked "
    "by ranking on portable_hash32(doc_id) — uniform-ish like "
    "ORDER BY random() LIMIT but stable across reruns/engines (and so "
    "oracle-checkable) and leakage-free for inspection pipelines that "
    "must re-visit the SAME sample. One group-key window; at 100 TB "
    "swap row_number for the per-partition top-k + merge pattern "
    "(top_n_per_group) if groups are few and huge.",
)
def per_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.sketches import portable_hash32

    docs = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        portable_hash32(F.col("doc_id")), F.col("doc_id")
    )
    return (
        docs.select("source", "doc_id", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 3)
        .select("source", "doc_id", F.col("rn").cast("int").alias("rn"))
    )


@register(
    "last_touch_attribution",
    oracle="""
    SELECT p.event_id AS purchase_id,
           CAST(t.event_id AS BIGINT) AS touch_id,
           t.event_type AS touch_type
    FROM events p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type <> 'purchase') t
      ON p.user_id = t.user_id AND t.ts < p.ts
    WHERE p.event_type = 'purchase'
    """,
    doc="Marketing last-touch attribution: each purchase attributed to "
    "the user's most recent PRIOR non-purchase event — the as-of join "
    "(operators/joins.asof_join, strict <) whose union+single-window "
    "formulation shuffles each side once on user_id; DuckDB's native "
    "ASOF LEFT JOIN is the oracle. Ties inside a timestamp resolve by "
    "event_id (total order). Purchases with no prior touch keep NULLs "
    "(left-outer).",
)
def last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.joins import asof_join

    ev = read_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    touches = ev.where(F.col("event_type") != "purchase").select(
        "user_id",
        F.col("ts").alias("touch_ts"),
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("touch_type"),
    )
    return asof_join(
        purchases,
        touches,
        on=["user_id"],
        left_ts="ts",
        right_ts="touch_ts",
        value_cols=["touch_id", "touch_type"],
        tiebreak="touch_id",
        allow_exact=False,
    ).select("purchase_id", "touch_id", "touch_type")


@register(
    "gdpr_erasure_maintenance",
    oracle=f"""
    WITH erased AS (
      SELECT user_id FROM events
      GROUP BY 1 HAVING ({_ph32_sql('user_id')}) % 20 = 0
    )
    SELECT e.event_type,
           count(*) AS n_events,
           CAST(round(sum(CAST(e.value AS DECIMAL(18,6))), 4) AS DOUBLE) AS total_value
    FROM events e
    WHERE NOT EXISTS (SELECT 1 FROM erased x WHERE x.user_id = e.user_id)
    GROUP BY 1
    """,
    doc="Right-to-be-forgotten propagation into derived aggregates, the "
    "DELETE direction of ivm_aggregate_maintenance: the stored "
    "per-event-type (count, sum) state minus the erased users' "
    "per-group contributions — the base fact is never re-aggregated, "
    "only |erasure-list ⋈ fact| rows are touched (and at 100 TB that "
    "join is a bloom/broadcast prune of the fact scan). The oracle "
    "recomputes from the scrubbed table, so the hash match proves "
    "subtract-maintenance ≡ delete-and-recompute for abelian "
    "aggregates. Erasure list = a deterministic 5% hash cohort.",
)
def gdpr_erasure_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.sketches import portable_hash32

    ev = read_table(spark, sf_dir, "events").select(
        "event_type", "user_id", F.col("value").cast("decimal(18,6)").alias("v")
    )
    erased = (
        ev.select("user_id")
        .distinct()
        .where(F.pmod(portable_hash32(F.col("user_id")), F.lit(20)) == 0)
    )
    # stored aggregate state (built once over the base fact)
    state = ev.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("v").alias("s")
    )
    # erased users' contributions: only the erasure-semi-joined slice of
    # the fact is touched. The erasure cohort scales with the user base
    # (here a 5% hash slice): bare left-semi, AQE broadcasts only when
    # the batch actually fits (at 100 TB a bloom prune is the upgrade)
    removed = (
        ev.join(erased, "user_id", "left_semi")
        .groupBy("event_type")
        .agg(F.count("*").alias("dn"), F.sum("v").alias("ds"))
    )
    zero_d = F.lit(0).cast("decimal(18,6)")
    return (
        state.join(removed, "event_type", "left")
        .select(
            "event_type",
            (F.col("n") - F.coalesce(F.col("dn"), F.lit(0))).alias("n_events"),
            F.round(
                (
                    F.col("s").cast("decimal(28,6)")
                    - F.coalesce(F.col("ds"), zero_d).cast("decimal(28,6)")
                ),
                4,
            )
            .cast("double")
            .alias("total_value"),
        )
    )


@register(
    "top_n_per_group_scaled",
    oracle="""
    SELECT * FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer
    ) WHERE rn <= 3
    """,
    doc="The skew-proof twin of top_n_per_group: salted two-phase ranking "
    "(aggregates.top_k_per_group_scaled) — each group splits into hash "
    "sub-partitions, phase 1 keeps top-k per slice (any global top-k "
    "row is top-k in its slice), phase 2 ranks the <= k*buckets "
    "survivors. The heaviest task sorts |group|/buckets rows instead of "
    "|group| — the form that survives one mega-group at 100 TB. The "
    "oracle is the SINGLE-window formulation, so the hash match proves "
    "the two-phase rewrite exact (also property-tested under heavy "
    "ties).",
)
def top_n_per_group_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.aggregates import top_k_per_group_scaled

    cust = read_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_custkey", "c_acctbal"
    )
    return top_k_per_group_scaled(
        cust,
        ["c_nationkey"],
        [F.col("c_acctbal").desc(), F.col("c_custkey")],
        k=3,
        salt_col="c_custkey",
        salt_buckets=8,
    )


@register(
    "id_gap_audit",
    oracle=f"""
    WITH loaded AS (
      SELECT o_orderkey FROM orders
      WHERE ({_ph32_sql('o_orderkey')}) % 20 <> 7
    ),
    seq AS (
      SELECT o_orderkey,
             lead(o_orderkey) OVER (ORDER BY o_orderkey) AS nxt
      FROM loaded
    ),
    gaps AS (
      SELECT o_orderkey AS gap_after, nxt - o_orderkey - 1 AS missing
      FROM seq WHERE nxt - o_orderkey > 1
    )
    SELECT count(*) AS n_gaps,
           CAST(coalesce(sum(missing), 0) AS BIGINT) AS n_missing_ids,
           CAST(coalesce(max(missing), 0) AS BIGINT) AS widest_gap
    FROM gaps
    """,
    doc="Load-reconciliation sequence audit: gaps in a monotonic id "
    "sequence — the cheap detector for silently dropped loads. The "
    "driver's orders table is gap-free, so the audit runs against a "
    "deterministic simulated loss (a 5% hash slice withheld) and FINDS "
    "it — missing-id count ≈ the withheld rows. DISTRIBUTED shape (the "
    "exact-percentiles range-bucket trick): lead() runs inside id-range "
    "buckets (parallel, partitioned window), and the bucket-boundary "
    "gaps come from a per-bucket min/max rollup whose own window is "
    "metadata-sized (one row per non-empty bucket) — no global "
    "single-partition sort at any scale. Empty buckets fall out "
    "naturally: the boundary lead skips to the next NON-EMPTY bucket's "
    "min.",
)
def id_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.sketches import portable_hash32

    orders = (
        read_table(spark, sf_dir, "orders")
        .select("o_orderkey")
        .where(F.pmod(portable_hash32(F.col("o_orderkey")), F.lit(20)) != 7)
        .withColumn("__bkt", F.expr("o_orderkey div 65536"))
    )
    w_in = Window.partitionBy("__bkt").orderBy("o_orderkey")
    within = (
        orders.withColumn("nxt", F.lead("o_orderkey").over(w_in))
        .where(F.col("nxt") - F.col("o_orderkey") > 1)
        .select((F.col("nxt") - F.col("o_orderkey") - 1).alias("missing"))
    )
    bounds = orders.groupBy("__bkt").agg(
        F.min("o_orderkey").alias("__lo"), F.max("o_orderkey").alias("__hi")
    )
    w_b = Window.orderBy("__bkt")  # one row per non-empty bucket: metadata
    boundary = (
        bounds.withColumn("__next_lo", F.lead("__lo").over(w_b))
        .where(F.col("__next_lo") - F.col("__hi") > 1)
        .select((F.col("__next_lo") - F.col("__hi") - 1).alias("missing"))
    )
    gaps = within.unionByName(boundary)
    return gaps.agg(
        F.count("*").alias("n_gaps"),
        F.coalesce(F.sum("missing"), F.lit(0)).cast("long").alias("n_missing_ids"),
        F.coalesce(F.max("missing"), F.lit(0)).cast("long").alias("widest_gap"),
    )


_MMR_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)
_MMR_NORM = "sqrt(list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"


@register(
    "mmr_diversified_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv,
             {_MMR_NORM.format(v='embedding')} AS nq
      FROM embeddings WHERE vec_id % 50 = 0
    ),
    c AS (
      SELECT vec_id AS cid, embedding AS cv,
             {_MMR_NORM.format(v='embedding')} AS nc
      FROM embeddings
    ),
    scored AS (
      SELECT qid, cid, cv, nc,
             {_MMR_DOT.format(a='qv', b='cv')} / (nq * nc) AS rel
      FROM c CROSS JOIN q WHERE qid != cid
    ),
    cands AS (
      SELECT qid, cid, cv, nc, rel FROM (
        SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid) AS crank
        FROM scored
      ) WHERE crank <= 10
    ),
    sims AS (
      SELECT a.qid, a.cid AS a, b.cid AS b,
             {_MMR_DOT.format(a='a.cv', b='b.cv')} / (a.nc * b.nc) AS sim
      FROM cands a JOIN cands b ON a.qid = b.qid AND a.cid != b.cid
    ),
    s1 AS (
      SELECT qid, cid AS s1, rel AS score1 FROM (
        SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid) AS r
        FROM cands
      ) WHERE r = 1
    ),
    m2 AS (
      SELECT c.qid, c.cid, c.rel, s1.s1,
             c.rel - 0.5 * s.sim AS mmr
      FROM cands c
      JOIN s1 ON s1.qid = c.qid AND c.cid != s1.s1
      JOIN sims s ON s.qid = c.qid AND s.b = c.cid AND s.a = s1.s1
    ),
    s2 AS (
      SELECT qid, s1, cid AS s2, mmr AS score2 FROM (
        SELECT *, row_number() OVER (PARTITION BY qid ORDER BY mmr DESC, cid) AS r
        FROM m2
      ) WHERE r = 1
    ),
    m3 AS (
      SELECT c.qid, c.cid,
             c.rel - 0.5 * greatest(sa.sim, sb.sim) AS mmr
      FROM cands c
      JOIN s2 ON s2.qid = c.qid AND c.cid != s2.s1 AND c.cid != s2.s2
      JOIN sims sa ON sa.qid = c.qid AND sa.b = c.cid AND sa.a = s2.s1
      JOIN sims sb ON sb.qid = c.qid AND sb.b = c.cid AND sb.a = s2.s2
    ),
    s3 AS (
      SELECT qid, cid AS s3, mmr AS score3 FROM (
        SELECT *, row_number() OVER (PARTITION BY qid ORDER BY mmr DESC, cid) AS r
        FROM m3
      ) WHERE r = 1
    )
    SELECT qid AS query_id, CAST(1 AS INT) AS rank, s1 AS neighbor_id, round(score1, 4) AS score FROM s1
    UNION ALL
    SELECT qid, 2, s2, round(score2, 4) FROM s2
    UNION ALL
    SELECT qid, 3, s3, round(score3, 4) FROM s3
    """,
    doc="MMR diversified top-k (Carbonell-Goldstein maximal marginal "
    "relevance, lambda=0.5): greedy selection of 3 from each query's "
    "top-10 cosine candidates as ONE grouped fold (similarity.mmr_rerank): "
    "a groupBy(qid) collects the candidate structs and a 3-step SQL "
    "aggregate over sequence(1, 3) takes each step's argmax, so the "
    "sequential heuristic runs inside one row, no pandas state, no "
    "per-step job. Selections AND scores hash-match DuckDB running the "
    "same algebra as hand-unrolled CTE steps (sequential-fold dots, one "
    "multiply-subtract per step — bit-portable). This is the RAG "
    "context-assembly de-dup step downstream of every ann_*_topk "
    "retriever.",
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.similarity import mmr_rerank

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return mmr_rerank(queries, emb, n_candidates=10, k=3, lam=0.5)


@register(
    "cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, count(*) AS n, sum(x) AS s
      FROM daily GROUP BY 1
    ),
    walk AS (
      SELECT d.event_type, d.day, t.n, t.s,
             sum(d.x) OVER (PARTITION BY d.event_type ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cx,
             row_number() OVER (PARTITION BY d.event_type ORDER BY d.day) AS t_idx
      FROM daily d JOIN tot t ON t.event_type = d.event_type
    ),
    scored AS (
      SELECT event_type, day,
             abs(n * cx - t_idx * s) AS dev_scaled
      FROM walk
    ),
    best AS (
      SELECT event_type, day AS change_day, dev_scaled,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY dev_scaled DESC, day) AS r
      FROM scored
    )
    SELECT event_type, strftime(change_day, '%Y-%m-%d') AS change_day,
           CAST(dev_scaled AS BIGINT) AS dev_scaled
    FROM best WHERE r = 1
    """,
    doc="CUSUM change-point detection per event_type: the day where the "
    "cumulative deviation from the series mean peaks — the level-shift "
    "detector complementing seasonal_anomaly_days' pointwise flags. "
    "The statistic is scaled into EXACT integers (n*cumsum - t*total "
    "avoids the mean division entirely), so argmax day and score are "
    "bit-identical in any engine. The per-day agg bounds the window "
    "input to calendar cardinality at any input size.",
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").alias("x")
    )
    tot = daily.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("x").alias("s")
    )
    wcum = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    widx = Window.partitionBy("event_type").orderBy("day")
    walk = (
        daily.join(F.broadcast(tot), "event_type")
        .withColumn("cx", F.sum("x").over(wcum))
        .withColumn("t_idx", F.row_number().over(widx))
    )
    scored = walk.select(
        "event_type",
        "day",
        F.abs(F.col("n") * F.col("cx") - F.col("t_idx") * F.col("s")).alias(
            "dev_scaled"
        ),
    )
    wbest = Window.partitionBy("event_type").orderBy(
        F.col("dev_scaled").desc(), F.col("day")
    )
    return (
        scored.withColumn("r", F.row_number().over(wbest))
        .where(F.col("r") == 1)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("change_day"),
            F.col("dev_scaled").cast("long").alias("dev_scaled"),
        )
    )


@register(
    "table_manifest",
    oracle="""
    SELECT 'region' AS table_name, count(*) AS n_rows,
           CAST(coalesce(sum(r_regionkey), 0) AS BIGINT) AS key_sum,
           CAST(coalesce(max(r_regionkey), -1) AS BIGINT) AS key_max
    FROM region
    UNION ALL
    SELECT 'nation', count(*),
           CAST(coalesce(sum(n_nationkey), 0) AS BIGINT),
           CAST(coalesce(max(n_nationkey), -1) AS BIGINT) FROM nation
    UNION ALL
    SELECT 'customer', count(*),
           CAST(coalesce(sum(c_custkey), 0) AS BIGINT),
           CAST(coalesce(max(c_custkey), -1) AS BIGINT) FROM customer
    UNION ALL
    SELECT 'supplier', count(*),
           CAST(coalesce(sum(s_suppkey), 0) AS BIGINT),
           CAST(coalesce(max(s_suppkey), -1) AS BIGINT) FROM supplier
    UNION ALL
    SELECT 'part', count(*),
           CAST(coalesce(sum(p_partkey), 0) AS BIGINT),
           CAST(coalesce(max(p_partkey), -1) AS BIGINT) FROM part
    UNION ALL
    SELECT 'orders', count(*),
           CAST(coalesce(sum(o_orderkey), 0) AS BIGINT),
           CAST(coalesce(max(o_orderkey), -1) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'lineitem', count(*),
           CAST(coalesce(sum(l_orderkey * 10 + l_linenumber), 0) AS BIGINT),
           CAST(coalesce(max(l_orderkey * 10 + l_linenumber), -1) AS BIGINT) FROM lineitem
    UNION ALL
    SELECT 'events', count(*),
           CAST(coalesce(sum(event_id), 0) AS BIGINT),
           CAST(coalesce(max(event_id), -1) AS BIGINT) FROM events
    UNION ALL
    SELECT 'documents', count(*),
           CAST(coalesce(sum(doc_id), 0) AS BIGINT),
           CAST(coalesce(max(doc_id), -1) AS BIGINT) FROM documents
    UNION ALL
    SELECT 'embeddings', count(*),
           CAST(coalesce(sum(vec_id), 0) AS BIGINT),
           CAST(coalesce(max(vec_id), -1) AS BIGINT) FROM embeddings
    """,
    doc="Cross-table reconciliation manifest: one row per source table "
    "with (row count, key checksum, key max) — the receipt a load "
    "compares against the upstream's manifest to catch silent "
    "truncation before any downstream job runs (the cheap 100 TB "
    "practice: additive integer checksums parallelize perfectly and "
    "need one agg per table, no sort, no join; composite keys fold to "
    "one BIGINT first). All ten driver tables in one unioned pass.",
)
def table_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    keys = {
        "region": F.col("r_regionkey"),
        "nation": F.col("n_nationkey"),
        "customer": F.col("c_custkey"),
        "supplier": F.col("s_suppkey"),
        "part": F.col("p_partkey"),
        "orders": F.col("o_orderkey"),
        "lineitem": F.col("l_orderkey") * 10 + F.col("l_linenumber"),
        "events": F.col("event_id"),
        "documents": F.col("doc_id"),
        "embeddings": F.col("vec_id"),
    }
    parts = []
    for t, key in keys.items():
        df = read_table(spark, sf_dir, t)
        parts.append(
            df.agg(
                F.lit(t).alias("table_name"),
                F.count("*").alias("n_rows"),
                F.coalesce(F.sum(key), F.lit(0)).cast("long").alias("key_sum"),
                F.coalesce(F.max(key), F.lit(-1)).cast("long").alias("key_max"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "markov_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    pairs AS (
      SELECT event_type AS cur, next_type AS nxt, count(*) AS c
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ),
    totals AS (SELECT cur, sum(c) AS tot FROM pairs GROUP BY 1)
    SELECT p.cur, p.nxt, CAST(p.c AS BIGINT) AS n_transitions,
           CAST(round(CAST(p.c AS DOUBLE) / t.tot, 6) AS DOUBLE) AS prob
    FROM pairs p JOIN totals t ON t.cur = p.cur
    """,
    doc="First-order Markov transition matrix over per-user event "
    "sequences: P(next | current) from exact pair counts (one lead "
    "window per user, one pair groupBy; the division happens once per "
    "output cell). The behavioral-model summary behind top_event_paths' "
    "raw sequences — 25 cells regardless of input size. (ts, event_id) "
    "total order pins lead() across engines.",
)
def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    pairs = seq.groupBy(
        F.col("event_type").alias("cur"), F.col("next_type").alias("nxt")
    ).agg(F.count("*").alias("c"))
    totals = pairs.groupBy("cur").agg(F.sum("c").alias("tot"))
    return pairs.join(F.broadcast(totals), "cur").select(
        "cur",
        "nxt",
        F.col("c").cast("long").alias("n_transitions"),
        F.round(F.col("c").cast("double") / F.col("tot"), 6)
        .cast("double")
        .alias("prob"),
    )


@register(
    "kneser_ney_bigram_lm",
    oracle="""
    WITH toks AS (
      SELECT doc_id, pos, tok
      FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok,
               generate_subscripts(string_split(lower(text), ' '), 1) AS pos
        FROM documents
      ) WHERE tok <> ''
    ),
    bi AS (
      SELECT a.tok AS w1, b.tok AS w2, count(*) AS c
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      GROUP BY 1, 2
    ),
    uni AS (SELECT w1, sum(c) AS cw1 FROM bi GROUP BY 1),
    fan AS (SELECT w1, count(*) AS n_follow FROM bi GROUP BY 1),
    cont AS (SELECT w2, count(*) AS n_prec FROM bi GROUP BY 1),
    types AS (SELECT count(*) AS n_types FROM bi),
    kn AS (
      SELECT bi.w1, bi.w2, bi.c,
             CAST(round(
               greatest(bi.c - CAST(0.75 AS DOUBLE), 0) / uni.cw1
               + CAST(0.75 AS DOUBLE) * fan.n_follow / uni.cw1
                 * cont.n_prec / types.n_types, 6) AS DOUBLE) AS p_kn
      FROM bi
      JOIN uni  ON uni.w1 = bi.w1
      JOIN fan  ON fan.w1 = bi.w1
      JOIN cont ON cont.w2 = bi.w2
      CROSS JOIN types
    )
    SELECT w1, w2, CAST(c AS BIGINT) AS n_bigram, p_kn
    FROM kn
    ORDER BY n_bigram DESC, w1, w2
    LIMIT 50
    """,
    doc="Kneser-Ney smoothed bigram LM (d=0.75, interpolated) over "
    "whitespace tokens — the LM behind perplexity-based quality "
    "filtering done properly: the backoff weighs a word by HOW MANY "
    "contexts precede it (continuation count), not raw frequency. "
    "Every input to the formula is an exact integer aggregate (bigram "
    "count, left-fanout, right-continuation, type count — three "
    "groupBys over the bigram frame + one broadcast scalar), and the "
    "float formula is one fixed expression per row, so DuckDB "
    "hash-matches the probabilities. Top-50 by count with total "
    "tie-break; unigram_lm_surprisal is the unsmoothed sibling.",
)
def kneser_ney_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.lower(F.col("text")), " ")).alias("pos0", "tok"),
        )
        .where(F.col("tok") != "")
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    )
    a = toks.select("doc_id", "pos", F.col("tok").alias("w1"))
    b = toks.select(
        "doc_id", (F.col("pos") - 1).alias("pos"), F.col("tok").alias("w2")
    )
    bi = (
        a.join(b, ["doc_id", "pos"])
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c"))
    )
    uni = bi.groupBy("w1").agg(F.sum("c").alias("cw1"))
    fan = bi.groupBy("w1").agg(F.count("*").alias("n_follow"))
    cont = bi.groupBy("w2").agg(F.count("*").alias("n_prec"))
    types = bi.agg(F.count("*").alias("n_types"))
    d = F.lit(0.75)
    p_kn = F.round(
        F.greatest(F.col("c") - d, F.lit(0)) / F.col("cw1")
        + d * F.col("n_follow") / F.col("cw1")
        * F.col("n_prec") / F.col("n_types"),
        6,
    ).cast("double")
    return (
        bi.join(uni, "w1")
        .join(fan, "w1")
        .join(cont, "w2")
        .join(F.broadcast(types))
        .select("w1", "w2", F.col("c").cast("long").alias("n_bigram"), p_kn.alias("p_kn"))
        .orderBy(F.col("n_bigram").desc(), "w1", "w2")
        .limit(50)
    )


@register(
    "pmi_copurchase",
    oracle="""
    WITH baskets AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    sizes AS (SELECT ok FROM baskets GROUP BY ok HAVING count(*) <= 7),
    bounded AS (SELECT b.* FROM baskets b JOIN sizes USING (ok)),
    nb AS (SELECT count(DISTINCT ok) AS n FROM bounded),
    supp AS (SELECT pk, count(*) AS s FROM bounded GROUP BY 1),
    pair AS (
      SELECT a.pk AS ia, b.pk AS ib, count(*) AS s_ab
      FROM bounded a JOIN bounded b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2 HAVING count(*) >= 3
    )
    SELECT p.ia, p.ib, CAST(p.s_ab AS BIGINT) AS supp_ab,
           CAST(round(ln(CAST(p.s_ab AS DOUBLE) * nb.n / (sa.s * sb.s)), 6) AS DOUBLE) AS pmi
    FROM pair p
    JOIN supp sa ON sa.pk = p.ia
    JOIN supp sb ON sb.pk = p.ib
    CROSS JOIN nb
    ORDER BY pmi DESC, p.ia, p.ib
    LIMIT 30
    """,
    doc="Pointwise mutual information over co-purchase pairs — the "
    "association-strength statistic word2vec/item2vec SGNS training "
    "data is built from (PMI normalizes away item popularity, which "
    "raw co-counts and even confidence cannot). Every input to the log "
    "is an exact integer (pair count, item supports, basket total), so "
    "the one ln() per surviving pair is bit-portable; support floor "
    ">= 3 prunes noise pairs BEFORE the expensive joins. Same bounded-"
    "basket quadratic guard as the rest of the graph family.",
)
def pmi_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    baskets = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    # size cap via one count window over the ok-shuffled baskets
    # (round 13; was groupBy-agg + join back — see association_rules)
    bounded = (
        baskets.withColumn("__n", F.count("*").over(Window.partitionBy("ok")))
        .where(F.col("__n") <= 7)
        .select("ok", "pk")
        .cache()
    )
    # basket total as a broadcast aggregate (crossJoin below), NOT an eager
    # .count() at plan-build time — keeps the whole query one submission
    nb = bounded.select("ok").distinct().agg(F.count("*").alias("__nb"))
    supp = bounded.groupBy("pk").agg(F.count("*").alias("s"))
    a = bounded.alias("pa")
    b = bounded.alias("pb")
    pair = (
        a.join(
            b, (F.col("pa.ok") == F.col("pb.ok")) & (F.col("pa.pk") < F.col("pb.pk"))
        )
        .groupBy(F.col("pa.pk").alias("ia"), F.col("pb.pk").alias("ib"))
        .agg(F.count("*").alias("s_ab"))
        .where(F.col("s_ab") >= 3)
    )
    pmi = F.round(
        F.log(
            F.col("s_ab").cast("double")
            * F.col("__nb")
            / (F.col("sa") * F.col("sb"))
        ),
        6,
    ).cast("double")
    return (
        # per-item supports scale with the item vocabulary: bare id
        # equi-joins, AQE decides broadcast (nb stays — 1-row aggregate)
        pair.join(
            supp.select(F.col("pk").alias("ia"), F.col("s").alias("sa")),
            "ia",
        )
        .join(
            supp.select(F.col("pk").alias("ib"), F.col("s").alias("sb")),
            "ib",
        )
        .crossJoin(F.broadcast(nb))
        .select("ia", "ib", F.col("s_ab").cast("long").alias("supp_ab"), pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "ia", "ib")
        .limit(30)
    )


@register(
    "k_anonymity_profile",
    oracle="""
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment,
             count(*) AS class_size,
             count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS l_distinct
      FROM customer
      GROUP BY 1, 2
    )
    SELECT count(*) AS n_classes,
           CAST(min(class_size) AS BIGINT) AS min_class_size,
           sum(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) AS k5_violations,
           sum(CASE WHEN l_distinct < 2 THEN 1 ELSE 0 END) AS l2_violations,
           sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) AS rows_at_risk
    FROM classes
    """,
    doc="k-anonymity / l-diversity privacy profile over the "
    "quasi-identifier (nation, segment): equivalence-class sizes, "
    "k=5 violations (classes small enough to re-identify members), "
    "l=2 diversity violations on the banded sensitive attribute "
    "(acctbal thousands — a class where everyone shares one band leaks "
    "the value even when k holds), and the row count at risk. The "
    "release-gate companion to gdpr_erasure_maintenance: one groupBy "
    "over the quasi-identifier + one metadata-sized rollup, exact "
    "integer everything.",
)
def k_anonymity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 1000).cast("long")
    classes = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("class_size"),
        F.countDistinct(band).alias("l_distinct"),
    )
    one, zero = F.lit(1), F.lit(0)
    return classes.agg(
        F.count("*").alias("n_classes"),
        F.min("class_size").cast("long").alias("min_class_size"),
        F.sum(F.when(F.col("class_size") < 5, one).otherwise(zero)).alias(
            "k5_violations"
        ),
        F.sum(F.when(F.col("l_distinct") < 2, one).otherwise(zero)).alias(
            "l2_violations"
        ),
        F.sum(
            F.when(F.col("class_size") < 5, F.col("class_size")).otherwise(zero)
        ).alias("rows_at_risk"),
    )


@register(
    "window_rank_suite",
    oracle="""
    SELECT s_suppkey,
           CAST(rank()       OVER w AS INT) AS rnk,
           CAST(dense_rank() OVER w AS INT) AS drnk,
           CAST(round(percent_rank() OVER w, 6) AS DOUBLE) AS prnk,
           CAST(round(cume_dist()    OVER w, 6) AS DOUBLE) AS cdist,
           CAST(ntile(4) OVER (ORDER BY s_acctbal DESC, s_suppkey) AS INT) AS quartile
    FROM supplier
    WINDOW w AS (ORDER BY CAST(floor(s_acctbal / 1000) AS BIGINT) DESC)
    """,
    doc="The remaining W4 ranking-function corner in one query: rank / "
    "dense_rank / percent_rank / cume_dist over a deliberately TIED "
    "ordering (acctbal thousands-band) — the tie semantics are exactly "
    "what distinguishes the four — plus ntile quartiles on a total "
    "order (ntile on a tied order would hash-diverge; the deciles "
    "query documents the same rule). percent_rank/cume_dist emit "
    "round-6 doubles; everything is one window over one small "
    "dimension table.",
)
def window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = read_table(spark, sf_dir, "supplier")
    band = F.floor(F.col("s_acctbal") / 1000).cast("long")
    # SIZE BOUND: both windows are global (a total order is what rank
    # semantics demand) but the input is the supplier DIMENSION — 10k
    # rows/sf, broadcast-small at any realistic sf. The catalog-wide plan
    # lint (plans/lint.py R2) verifies this stays dimension-only; ranking
    # a FACT table goes through limit-first top-k (bm25_topk) or
    # partitioned rank (top_n_per_group) instead.
    w = Window.orderBy(band.desc())
    wt = Window.orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey"))
    return supp.select(
        "s_suppkey",
        F.rank().over(w).cast("int").alias("rnk"),
        F.dense_rank().over(w).cast("int").alias("drnk"),
        F.round(F.percent_rank().over(w), 6).cast("double").alias("prnk"),
        F.round(F.cume_dist().over(w), 6).cast("double").alias("cdist"),
        F.ntile(4).over(wt).cast("int").alias("quartile"),
    )


@register(
    "gini_revenue_concentration",
    oracle="""
    WITH cents AS (
      SELECT n.n_name AS nation,
             o.o_orderkey,
             CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
    ),
    ranked AS (
      SELECT nation, x,
             row_number() OVER (PARTITION BY nation
                                ORDER BY x, o_orderkey) AS i
      FROM cents
    ),
    agg AS (
      SELECT nation, count(*) AS n, sum(x) AS s, sum(i * x) AS ix
      FROM ranked GROUP BY 1
    )
    SELECT nation, CAST(n AS BIGINT) AS n_orders,
           CAST(round(CAST(2 * ix - (n + 1) * s AS DOUBLE) / (n * s), 6) AS DOUBLE) AS gini
    FROM agg
    """,
    doc="Gini coefficient of order-revenue concentration per nation — "
    "the inequality statistic (same math that flags corpus domain "
    "concentration: a source whose token mass has gini→1 is one "
    "mega-document in disguise). Sorted-rank formula G = (2·Σi·x_i − "
    "(n+1)·Σx) / (n·Σx) with EXACT integer numerator and denominator "
    "(cents, ranks with a total tie-break): the single division per "
    "group is the only float op, so both engines agree bit-for-bit. "
    "One per-nation window + one agg; at 100 TB the window keys on "
    "the group, so parallelism = |groups| — for ONE giant group use "
    "the range-bucket prefix-sum construction (exact_group_percentiles "
    "doc).",
)
def gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nat = read_table(spark, sf_dir, "nation")
    cents = (
        # customer scales with the corpus: bare join, AQE decides
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            "o_orderkey",
            (money(F.col("o_totalprice")) * 100).cast("long").alias("x"),
        )
    )
    w = Window.partitionBy("nation").orderBy("x", "o_orderkey")
    ranked = cents.withColumn("i", F.row_number().over(w))
    agg = ranked.groupBy("nation").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("i") * F.col("x")).alias("ix"),
    )
    gini = F.round(
        (F.lit(2) * F.col("ix") - (F.col("n") + 1) * F.col("s")).cast("double")
        / (F.col("n") * F.col("s")),
        6,
    ).cast("double")
    return agg.select(
        "nation", F.col("n").cast("long").alias("n_orders"), gini.alias("gini")
    )


# ---------------------------------------------------------------------------
# Z. Last two advertised operators under oracle (VERDICT r3 #4):
#    trained-IVF assignment parity and BPE tokenizer apply.
# ---------------------------------------------------------------------------

#: fixed hierarchical BPE merge table for the oracle-checked apply query —
#: each rule only references tokens producible by earlier rules, which is
#: exactly what a learned merge list looks like and is the property that
#: makes the SQL replace-chain oracle equivalent to the greedy encoder.
_BPE_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("a", "t"),
]


def _bpe_chain_sql(expr: str, passes: int = 4) -> str:
    """Rank-ordered replace-all chain, iterated ``passes`` times — the SQL
    rendering of greedy BPE on a pipe-delimited token string. One pass
    applies every rule in rank order; hierarchical rank order guarantees a
    higher-rank merge never creates a lower-rank pair, and repeated passes
    absorb same-rule overlap runs (a run of k identical chars halves per
    pass). Equivalence to text.bpe_encode's greedy loop is checked over
    the real corpus vocabulary in tests."""
    for _ in range(passes):
        for a, b in _BPE_MERGES:
            expr = f"replace({expr}, '|{a}|{b}|', '|{a}{b}|')"
    return expr


_BPE_REPR_SQL = _bpe_chain_sql("('|' || regexp_replace(word, '(.)', '\\1|', 'g'))")


@register(
    "bpe_encode_corpus",
    oracle=f"""
    WITH w AS (
      -- whitespace-normalized before split: Python str.split() treats any
      -- whitespace RUN (tabs/newlines included) as one delimiter, so the
      -- oracle must too — corpus-independent equivalence, not fixture luck
      SELECT doc_id, i, words[i] AS word
      FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS words
            FROM documents),
           UNNEST(range(1, len(words) + 1)) AS r(i)
      WHERE words[i] != ''
    ),
    enc AS (
      SELECT doc_id, i,
             {_BPE_REPR_SQL} AS repr
      FROM w
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(sum(length(repr) - length(replace(repr, '|', '')) - 1)
                  AS BIGINT) AS n_tokens,
             string_agg(trim(replace(repr, '|', ' ')), ' ' ORDER BY i)
               AS token_str
      FROM enc GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(p.n_tokens, 0) AS n_tokens,
           coalesce(p.token_str, '') AS token_str
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
    doc="BPE tokenizer APPLY over the corpus (the mapInPandas operator "
    "text.bpe_encode, genuinely sequential per word) under a full value "
    "oracle: DuckDB re-runs greedy BPE as a rank-ordered replace-all "
    "chain over pipe-delimited character strings (4 fixpoint passes), "
    "then compares per-doc token counts AND the exact token sequence. "
    "The merge table is hierarchical (each rule references only tokens "
    "earlier rules can produce), which is the property making the "
    "replace-chain equal to the greedy lowest-rank-first loop.",
)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.text import bpe_encode

    docs = read_table(spark, sf_dir, "documents")
    enc = bpe_encode(docs, _BPE_MERGES, "doc_id", "text")
    return enc.select(
        "doc_id",
        "n_tokens",
        F.concat_ws(" ", "tokens").alias("token_str"),
    )


@register(
    "ivf_train_assignment_parity",
    oracle="""
    SELECT CAST(8 AS INTEGER) AS n_cells,
           CAST(max(len(embedding)) AS INTEGER) AS dim,
           count(*) AS n_points,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM embeddings
    """,
    doc="Trained-IVF coarse quantizer under oracle (closes the last "
    "advertised operator outside the checked surface): "
    "similarity.train_ivf_centroids fits k=8 centers with distributed "
    "k-means (fixed seed), centers are canonically sorted "
    "(label-permutation-free), and EVERY corpus vector is assigned two "
    "independent ways — the production single-expression struct-max "
    "ivf_cell, and a brute-force explode-join-window argmax over a "
    "centroid DataFrame. The oracle pins cell count, vector dim, corpus "
    "coverage, and zero assignment mismatches; parity is exact because "
    "both paths share the identical score expression and tie-break, "
    "whatever centers training produced.",
)
def ivf_train_assignment_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from etl_cascalog_spark.operators.similarity import (
        dot,
        ivf_cell,
        train_ivf_centroids,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    centers = sorted(train_ivf_centroids(emb, "embedding", n_cells=8, seed=11))
    assigned = emb.select(
        "vec_id",
        F.col("embedding").alias("v"),
        F.size("embedding").alias("dim"),
        ivf_cell(F.col("embedding"), centers).alias("cell"),
    )
    cent_df = F.broadcast(
        assigned.sparkSession.createDataFrame(
            [
                (i, c, math.sqrt(sum(x * x for x in c)))
                for i, c in enumerate(centers)
            ],
            "cid int, cvec array<double>, cnorm double",
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("s").desc(), F.col("cid"))
    brute = (
        assigned.crossJoin(cent_df)
        .select(
            "vec_id",
            "cell",
            "dim",
            "cid",
            (dot(F.col("v"), F.col("cvec")) / F.col("cnorm")).alias("s"),
        )
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
    )
    return brute.agg(
        F.lit(8).cast("int").alias("n_cells"),
        F.max("dim").cast("int").alias("dim"),
        F.count("*").alias("n_points"),
        F.sum((F.col("cell") != F.col("cid")).cast("long")).alias("n_mismatch"),
    )


#: shared oracle CTE chain for the substring-dedup family: tokens with
#: positions -> positional-self-join 4-grams -> corpus-wide duplicated
#: hashes -> merged maximal spans per doc (per_span: doc_id, span_id, ss, ee)
_DUP_SPAN_CTE = """toks AS (
      SELECT doc_id, i AS pos, words[i] AS tok
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS words
            FROM documents),
           UNNEST(range(1, len(words) + 1)) AS r(i)
      WHERE words[i] != ''
    ),
    grams AS (
      SELECT a.doc_id, a.pos,
             md5(a.tok || ' ' || b.tok || ' ' || c.tok || ' ' || d.tok) AS gh
      FROM toks a
      JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
      JOIN toks d ON d.doc_id = a.doc_id AND d.pos = a.pos + 3
    ),
    dup AS (SELECT gh FROM grams GROUP BY gh HAVING count(*) >= 2),
    occ AS (
      SELECT g.doc_id, g.pos AS s, g.pos + 3 AS e
      FROM grams g JOIN dup USING (gh)
    ),
    flagged AS (
      SELECT doc_id, s, e,
             CASE WHEN s > coalesce(max(e) OVER (
                    PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS new_span
      FROM occ
    ),
    spans AS (
      SELECT doc_id,
             sum(new_span) OVER (PARTITION BY doc_id ORDER BY s, e) AS span_id,
             s, e
      FROM flagged
    ),
    per_span AS (
      SELECT doc_id, span_id, min(s) AS ss, max(e) AS ee
      FROM spans GROUP BY doc_id, span_id
    )"""


@register(
    "dedup_span_removal",
    oracle=f"""
    WITH {_DUP_SPAN_CTE},
    kept AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM toks t
      WHERE NOT EXISTS (
        SELECT 1 FROM per_span p
        WHERE p.doc_id = t.doc_id AND t.pos BETWEEN p.ss AND p.ee
      )
    ),
    rebuilt AS (
      SELECT doc_id,
             string_agg(tok, ' ' ORDER BY pos) AS clean_text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY doc_id)
    SELECT t.doc_id,
           coalesce(r.clean_text, '') AS clean_text,
           CAST(t.n_tokens AS BIGINT) AS n_tokens,
           CAST(t.n_tokens - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed
    FROM totals t LEFT JOIN rebuilt r USING (doc_id)
    """,
    doc="Substring dedup APPLIED (the cut half of Lee et al.'s "
    "mark-then-cut): text.remove_duplicate_spans rebuilds every document "
    "with its corpus-duplicated spans removed — span positions explode "
    "map-side, one anti join on (id, pos), and reconstruction orders by "
    "an array_sort(struct(pos, tok)) key so the output is deterministic "
    "under any partitioning. Oracle re-derives spans via the shared "
    "positional-self-join CTE and rebuilds with ordered string_agg; the "
    "exact cleaned TEXT is value-compared, not just counts.",
)
def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.text import (
        duplicate_token_spans,
        remove_duplicate_spans,
    )

    docs = read_table(spark, sf_dir, "documents")
    spans = duplicate_token_spans(docs, "doc_id", "text", n=4)
    return remove_duplicate_spans(docs, spans, "doc_id", "text", n=4)


@register(
    "neardup_keep_best",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    {_CC_EDGES_CTE},
    {_cc_labels_sql()},
    lab AS (
      SELECT node AS doc_id, label AS cluster_id FROM cc_labels
    ),
    q AS (SELECT doc_id, {_QUALITY_SQL} AS quality FROM documents),
    best AS (
      SELECT l.cluster_id, l.doc_id AS keeper
      FROM lab l JOIN q ON q.doc_id = l.doc_id
      QUALIFY row_number() OVER (PARTITION BY l.cluster_id
                                 ORDER BY q.quality DESC, l.doc_id) = 1
    )
    SELECT d.doc_id,
           CAST(coalesce(b.keeper, d.doc_id) AS BIGINT) AS keeper_id,
           CAST(CASE WHEN coalesce(b.keeper, d.doc_id) = d.doc_id
                     THEN 1 ELSE 0 END AS INTEGER) AS kept
    FROM documents d
    LEFT JOIN lab l ON l.doc_id = d.doc_id
    LEFT JOIN best b ON b.cluster_id = l.cluster_id
    """,
    doc="Quality-aware near-dup retention: within each connected near-dup "
    "cluster keep the HIGHEST-quality member (quality desc, id asc "
    "tie-break) instead of the min-id — the curation policy that keeps "
    "the best-formatted copy of a boilerplate family rather than an "
    "arbitrary one. Composes MinHash+LSH pairs, the (star-default) "
    "connected components, the portable quality score, and one rank-1 "
    "window per cluster; the component/keeper attaches are BARE id "
    "equi-joins — the pair-graph membership is proportional to the "
    "corpus near-dup population, so it never carries a mandatory "
    "broadcast hint (AQE broadcasts at runtime only when the side "
    "fits). Oracle: unrolled self-verifying label propagation "
    "(_cc_labels_sql) + the same argmax in SQL.",
)
def neardup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )
    from etl_cascalog_spark.operators.text import quality_score

    docs = read_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", quality_score(F.col("text")).alias("quality")
    )
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_hashes=64, bands=16, threshold=0.7
    )
    # comp has one row per member of the PAIR graph — PROPORTIONAL to the
    # corpus near-dup population (billions of rows on a 100 TB web corpus),
    # so none of these attaches may carry a mandatory broadcast hint: bare
    # id/label equi-joins let AQE broadcast at runtime when the side fits
    # and fall back to a shuffle join when it doesn't (SCALE.md "Never
    # force-broadcast the dup population")
    comp = connected_components(pairs)
    member = comp.join(
        scored.withColumnRenamed("doc_id", "node"), "node"
    )
    w = Window.partitionBy("label").orderBy(F.col("quality").desc(), F.col("node"))
    best = (
        member.withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select("label", F.col("node").alias("keeper"))
    )
    return (
        scored.select("doc_id")
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .join(best, "label", "left")
        .select(
            "doc_id",
            F.coalesce("keeper", F.col("doc_id")).cast("long").alias("keeper_id"),
            (F.coalesce("keeper", F.col("doc_id")) == F.col("doc_id"))
            .cast("int")
            .alias("kept"),
        )
    )


@register(
    "substring_dup_spans",
    oracle=f"""
    WITH {_DUP_SPAN_CTE},
    per_doc AS (
      SELECT doc_id,
             count(*) AS n_dup_spans,
             sum(ee - ss + 1) AS dup_tokens
      FROM per_span GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(t.n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST(round(coalesce(p.dup_tokens, 0) * 1.0 / t.n_tokens, 6)
                AS DOUBLE) AS dup_ratio
    FROM totals t LEFT JOIN per_doc p USING (doc_id)
    """,
    doc="Substring-level exact dedup marking (Lee et al. 2022: duplicated "
    ">=n-token spans ANYWHERE in the corpus — the boilerplate/quote/"
    "license text doc-level near-dedup cannot see): "
    "text.duplicate_token_spans finds 4-gram occurrences repeated >= 2 "
    "times corpus-wide, merges overlapping hits into maximal spans per "
    "doc (running-max interval merge, one window pass), and this query "
    "rolls up span count / covered tokens / coverage ratio per document. "
    "Oracle builds the same grams via a positional self-join (different "
    "formulation than the lead-chain) and the same window interval "
    "merge. Gram traffic is one row per corpus token — the same order "
    "as any tokenizer pass; nothing quadratic.",
)
def substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.operators.text import duplicate_token_spans

    docs = read_table(spark, sf_dir, "documents")
    spans = duplicate_token_spans(docs, "doc_id", "text", n=4)
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_dup_spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias("dup_tokens"),
    )
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok"),
    ).where(F.col("tok") != "")
    totals = toks.groupBy("doc_id").agg(F.count("*").alias("n_tokens"))
    return (
        totals.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0)) * F.lit(1.0) / F.col("n_tokens"),
                6,
            ).cast("double").alias("dup_ratio"),
        )
    )


@register(
    "edn_tree_ingest",
    oracle="""
    WITH j AS (
      SELECT n_nationkey, n_name, r_regionkey, r_name
      FROM nation JOIN region ON n_regionkey = r_regionkey
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, path_str, attr, value FROM (
      SELECT n_nationkey AS doc_id, '' AS path_str, 'name' AS attr,
             n_name AS value FROM j
      UNION ALL
      SELECT n_nationkey, '', 'n-key', CAST(n_nationkey AS VARCHAR) FROM j
      UNION ALL
      SELECT n_nationkey, 'reg', 'r-key', CAST(r_regionkey AS VARCHAR) FROM j
      UNION ALL
      SELECT n_nationkey, 'reg', 'r-name', r_name FROM j
      UNION ALL
      SELECT * FROM (VALUES
        (-1, '', 'flag',    'true'),
        (-1, '', 'missing', NULL),
        (-1, '', 'pi',      '3.5'),
        (-1, '', 'quote',   'a"b'),
        (-1, '', 'slash',   'c\\d')) esc(doc_id, path_str, attr, value)
    )
    """,
    doc="EDN read-compat shim under oracle (VERDICT r4 #5): the reference "
    "persists trgx trees between jobs as EDN TEXT (pr-str, "
    "mlvar/d_bolome_user_order.clj:98-129; read back at trgx.clj:78-79) — "
    "a migration user's existing EDN columns need a read path even though "
    "the engine's own edge format is JSON (SURVEY §1.3). Here EDN "
    "documents are CONSTRUCTED data-driven from nation⋈region (so the "
    "parser sees 25 distinct real-data strings, not one fixture), plus "
    "one literal document exercising string escapes (\\\" and \\\\), nil, "
    "booleans, and floats; functions.edn.from_edn_tree (Arrow-batched "
    "mapInPandas — EDN parses only at the migration edge) flattens the "
    "{:DATA … :CHILDREN …} shape into the canonical (path, attr, value) "
    "long format, and the oracle recomputes every expected row "
    "analytically from the same tables.",
)
def edn_tree_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cascalog_spark.functions.edn import from_edn_tree

    nat = read_table(spark, sf_dir, "nation")
    reg = read_table(spark, sf_dir, "region")
    j = nat.join(
        F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"]
    ).select(
        F.col("n_nationkey").cast("long").alias("doc_id"),
        F.format_string(
            '{:DATA {:name "%s", :n-key %d} :CHILDREN '
            '{"reg" {:DATA {:r-key %d, :r-name "%s"} :CHILDREN {}}}}',
            F.col("n_name"),
            F.col("n_nationkey"),
            F.col("r_regionkey"),
            F.col("r_name"),
        ).alias("edn"),
    )
    esc = spark.createDataFrame(
        [
            (
                -1,
                '{:DATA {:quote "a\\"b", :slash "c\\\\d", :missing nil, '
                ":flag true, :pi 3.5} :CHILDREN {}}",
            )
        ],
        "doc_id long, edn string",
    )
    long_rows = from_edn_tree(j.unionByName(esc), "edn", ["doc_id"])
    return long_rows.select(
        "doc_id",
        F.concat_ws("/", "path").alias("path_str"),
        "attr",
        "value",
    )


# ---------------------------------------------------------------------------
# Adapted TPC-H suite (Q3-Q22) — registers tpch_q* entries on import.
# Bottom-of-module import: plans.tpch needs register/money/dround above.
# ---------------------------------------------------------------------------
from etl_cascalog_spark.plans import tpch as _tpch  # noqa: E402,F401
