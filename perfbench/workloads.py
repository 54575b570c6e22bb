"""The benchmark's workloads and the code that runs one pass of each.

Every workload reads the seed-42 fixture tables committed under
``perfbench/data``. The run's ``--seed`` sets the order of operations in
each pass and the ``etl_write`` batch calendar; it never changes a table.

Operation lists are fixed subsets of the catalog groups they name. A pass
of the full lists takes 9-26 s warm on a 4-core host; the subsets keep a
run of two set-ups, a cold pass and the warm passes near a minute on a
loaded host, so that a full check's 22 runs per workload fit its time
budget.
"""

from __future__ import annotations

import datetime
import os
import random
import shutil
from dataclasses import dataclass
from pathlib import Path

DATA = Path(__file__).resolve().parent / "data"
BASE = "sf0.01"  # fixture scale of every workload; the smoke test uses sf0.001


@dataclass(frozen=True)
class Workload:
    """A workload's operations; BENCHMARK.json says why each exists."""

    tables: tuple[str, ...]  # what the operations read
    ops: tuple[str, ...]  # catalog queries; empty for the write workload


WORKLOADS: dict[str, Workload] = {
    "catalog": Workload(
        tables=("customer", "documents", "events", "nation", "orders", "region"),
        # an odd count, so the median operation wall is one operation's own
        ops=(
            "period_compare",  # C period comparison
            "sessionization",  # D windows
            "report_pipeline",  # D2 report framework
            "trgx_report_period",  # D2 trgx tree layer
            "neardup_clusters",  # E dedup, connected components at build
        ),
    ),
    # orders joined to lineitem, loaded in monthly batches (EtlPass below)
    "etl_write": Workload(tables=("lineitem", "orders"), ops=()),
}


# ---------------------------------------------------------------------------
# one operation of a query workload
# ---------------------------------------------------------------------------

def digest_aggs(columns: list[str]):
    """Row count and an order-insensitive digest of every column."""
    from pyspark.sql import functions as F

    cols = [F.col(f"`{c}`") for c in columns]
    return (
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0)).alias("digest"),
    )


def _tree_counts(plan) -> tuple[int, int]:
    """(operator nodes, exchanges) in a physical plan's tree string."""
    nodes = exchanges = 0
    for line in plan.treeString().splitlines():
        op = line.lstrip(" :+-").split(" ", 1)[0]
        if not op or op.startswith(("(", "AdaptiveSparkPlan")):
            continue
        nodes += 1
        exchanges += op.endswith("Exchange")
    return nodes, exchanges


def run_query(ctx, name: str) -> tuple[int, int]:
    """Build, (traced: plan,) and execute catalog query ``name`` through the
    ``noop`` sink. Row count and digest come from an ``Observation`` on the
    same job, so nothing runs twice. Returns (rows, digest).

    The Catalyst probe plans the observed query, the one the write runs. The
    write then plans it once more inside ``exec``; the event log puts that
    planning in ``exec.prejob_s``, ahead of the write's first job."""
    from pyspark.sql import Observation

    from etl_cascalog_spark.catalog import QUERIES
    from etl_cascalog_spark.session import scoped_storage

    spark, tr = ctx.spark, ctx.tracer
    with scoped_storage(spark):
        with tr.span("phase", "build"):
            df = QUERIES[name].build(spark, ctx.sf_dir)
        obs = Observation()
        observed = df.observe(obs, *digest_aggs(df.columns))
        if ctx.traced:
            with tr.span("phase", "plan") as rec:
                qe = observed._jdf.queryExecution()
                plan = qe.executedPlan()
                phases = qe.tracker().phases()
                for p in ("analysis", "optimization", "planning"):
                    opt = phases.get(p)
                    rec[p] = opt.get().durationMs() / 1000 if opt.isDefined() else 0.0
                rec["plan_nodes"], rec["exchanges"] = _tree_counts(plan)
        with tr.span("phase", "exec"):
            observed.write.format("noop").mode("overwrite").save()
            got = obs.get
    return got["rows"], got["digest"]


# ---------------------------------------------------------------------------
# the write workload
# ---------------------------------------------------------------------------

BATCHES_PER_PASS = 3
RELOADS_PER_PASS = 1
_FIRST_MONTH = datetime.date(1995, 1, 1)  # fixture orders span 1995-01..2001-08
_MONTHS = 80
ETL_KEYS = ("o_custkey", "dw_mon")


def _month(i: int) -> datetime.date:
    y, m = divmod(_FIRST_MONTH.month - 1 + i, 12)
    return datetime.date(_FIRST_MONTH.year + y, m + 1, 1)


def etl_calendar(seed: int) -> list[tuple[int, bool]]:
    """Seeded batch calendar of one pass: (month index, is_reload). New
    batches load consecutive months from a seeded start; each re-load sits
    at a seeded position after the first batch and repeats a seeded month
    already loaded in this pass."""
    rng = random.Random(seed)
    n_new = BATCHES_PER_PASS - RELOADS_PER_PASS
    first = rng.randrange(_MONTHS - n_new)
    reload_at = set(rng.sample(range(1, BATCHES_PER_PASS), RELOADS_PER_PASS))
    out, loaded = [], []
    for i in range(BATCHES_PER_PASS):
        if i in reload_at:
            out.append((rng.choice(loaded), True))
        else:
            loaded.append(first + len(loaded))
            out.append((loaded[-1], False))
    return out


def etl_source(spark, sf_dir: str):
    """orders joined to lineitem, with the load date and month columns."""
    from pyspark.sql import functions as F

    from etl_cascalog_spark.io import read_table

    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            "o_orderkey",
            "o_custkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            F.col("o_orderdate").cast("date").alias("dw_dt"),
            F.date_format("o_orderdate", "yyyy-MM").alias("dw_mon"),
        )
    )


def etl_aggregate(rows):
    """The live aggregate: one row per (customer, month)."""
    from pyspark.sql import functions as F

    return rows.groupBy(*ETL_KEYS).agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (1 - F.col("l_discount").cast("decimal(4,2)"))
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
        F.countDistinct("o_orderkey").alias("n_orders"),
        F.max("dw_dt").alias("last_dt"),
    )


def dir_usage(path: Path) -> tuple[int, int]:
    """(bytes, files) under ``path``, following no links."""
    size = files = 0
    for dp, _dn, fn in os.walk(path):
        for f in fn:
            p = os.path.join(dp, f)
            if not os.path.islink(p):
                size += os.path.getsize(p)
                files += 1
    return size, files


class EtlPass:
    """Sinks of one pass: a month-partitioned fact table, the published live
    aggregate, a metrics output and a JDBC audit table. Each pass starts
    from empty sinks, so every pass does the same work."""

    CHECKS = 2  # live aggregate, audit rows

    def __init__(self, ctx, index: int):
        self.ctx = ctx
        self.root = ctx.work / f"etl_pass{index}"
        self.fact = self.root / "fact"
        self.live = self.root / "live"
        self.metrics = self.root / "metrics"
        self.table = f"AUDIT_RNG_P{index}"
        self.loaded: list[int] = []
        self.batches = 0

    def batch(self, month: int, reload: bool) -> None:
        from pyspark.sql import functions as F

        from etl_cascalog_spark import incremental, io

        spark, tr, src = self.ctx.spark, self.ctx.tracer, self.ctx.etl_source
        with tr.span("phase", "watermark"):
            sink = (
                spark.read.parquet(str(self.fact))
                if self.fact.exists()
                else src.where(F.lit(False))
            )
            start, _ = incremental.next_load_range(sink, "dw_dt")
        end = _month(month + 1).isoformat()
        if reload:
            start = _month(month).isoformat()
        else:
            start = max(start, _month(month).isoformat())
        rows = incremental.filter_to_range(src, "dw_dt", start, end)
        with tr.span("phase", "partition_write"):
            io.overwrite_logical_partition(rows, str(self.fact), "dw_mon")
        delta = etl_aggregate(rows)
        with tr.span("phase", "publish"):
            live = (
                spark.read.parquet(str(self.live))
                if self.live.exists()
                else delta.where(F.lit(False))
            )
            merged = incremental.delta_shadow_merge(live, delta, list(ETL_KEYS))
            io.publish_atomic(merged, str(self.live))
        with tr.span("phase", "metrics_write"):
            io.write_with_metrics(delta, str(self.metrics))
        with tr.span("phase", "jdbc_append"):
            audit = incremental.load_range_audit(rows, "dw_dt")
            io.jdbc_append(audit, self.ctx.jdbc_url, self.table)
        if month not in self.loaded:
            self.loaded.append(month)
        self.batches += 1

    def verify(self) -> list[str]:
        """Mismatches of the pass's sinks against a one-shot recompute."""
        from pyspark.sql import functions as F

        from etl_cascalog_spark import io

        spark, src = self.ctx.spark, self.ctx.etl_source
        months = [_month(m).strftime("%Y-%m") for m in self.loaded]
        want_rows = src.where(F.col("dw_mon").isin(months))
        cols = ["o_custkey", "dw_mon", "revenue", "n_lines", "n_orders", "last_dt"]
        errors = []
        got = spark.read.parquet(str(self.live)).select(*cols).agg(
            *digest_aggs(cols)
        ).first()
        want = etl_aggregate(want_rows).select(*cols).agg(*digest_aggs(cols)).first()
        if tuple(got) != tuple(want):
            errors.append(f"live aggregate {tuple(got)} != recompute {tuple(want)}")
        n_audit = io.jdbc_read(spark, self.ctx.jdbc_url, self.table).count()
        if n_audit != self.batches:
            errors.append(f"audit rows {n_audit} != batches {self.batches}")
        return errors

    def drop(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)

