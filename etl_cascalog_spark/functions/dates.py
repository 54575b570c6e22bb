"""Date helpers (X1 parse/format, X2 arithmetic, X3 sequences/spines).

Reference (all in ``/root/reference/src/common/trgx.clj``):

- ``parse-dt``/``unparse-dt`` (:24-25)  → ``to_date``/``date_format``
- ``tomorrow-dt`` (:26), ``future-dt`` (:27) → ``date_add``
- ``last-day``/``simple-last-day`` (:28-29) → ``last_day``
- ``prev-last-day`` (:30)   — previous month-end  (calendar LAG 1)
- ``prev-last-month`` (:31) — last Dec 31          (year-anchor lag)
- ``prev-same-month`` (:32) — same month-end last year (calendar LAG 12)
- ``mk-dts``/``mk-month-dts`` (:37-43) → ``sequence()`` + ``explode``

These are the lag *keys* of the reference's signature sliding computation
(§2.6): periods are probed **by calendar key, not row offset**, so a missing
month yields NULL rather than the previous row's value.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def tomorrow_dt(dt: Column) -> Column:
    """trgx.clj:26 — dt + 1 day."""
    return F.date_add(dt, 1)


def future_dt(dt: Column, days: int) -> Column:
    """trgx.clj:27 — dt + n days."""
    return F.date_add(dt, days)


def last_day_of_month(dt: Column) -> Column:
    """trgx.clj:28-29 — month-end of dt's month."""
    return F.last_day(dt)


def prev_last_day(dt: Column) -> Column:
    """trgx.clj:30 — previous month's month-end (calendar LAG 1 key)."""
    return F.last_day(F.add_months(dt, -1))


def prev_last_month(dt: Column) -> Column:
    """trgx.clj:31 — Dec 31 of the previous year (year-anchor lag key)."""
    return F.to_date(F.concat(F.date_format(F.add_months(F.trunc(dt, "year"), -1), "yyyy"), F.lit("-12-31")))


def prev_same_month(dt: Column) -> Column:
    """trgx.clj:32 — same month-end one year earlier (calendar LAG 12 key)."""
    return F.last_day(F.add_months(dt, -12))


def month_spine(spark: SparkSession, start_dt: str, end_dt: str) -> DataFrame:
    """W5/J4: the month-end date spine ``mk-month-dts`` (trgx.clj:41-43).

    Reference generated a Clojure seq on the driver and cross-joined it as a
    literal generator (``m_cocacola_score_channel.clj:53``). Here it is a
    one-liner over ``sequence()`` — generated distributed, no driver loop —
    and small enough that Catalyst broadcast-joins it wherever it's used.
    """
    return spark.range(1).select(
        F.explode(
            F.sequence(
                F.trunc(F.lit(start_dt).cast("date"), "month"),
                F.trunc(F.lit(end_dt).cast("date"), "month"),
                F.expr("interval 1 month"),
            )
        ).alias("_m")
    ).select(F.last_day(F.col("_m")).alias("spine_dt"))
