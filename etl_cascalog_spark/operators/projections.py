"""Plan-time config binding and multi-column projection helpers
(SURVEY.md §2.2, §2.10). Plain projections and renames are ``select`` /
``toDF`` directly; what lives here has no one-call DataFrame equivalent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def broadcast_config_map(
    spark: SparkSession,
    config_df: DataFrame,
    key_col: str,
    value_col: str,
) -> Column:
    """J5: the plan-time config join (latest-trgx-merge, trgx.clj:198-207):
    collect a small config table on the driver ONCE at plan construction
    and bake it into the plan as a literal map column — a map-side lookup
    with zero join, exactly the reference's closure-captured config tree.

    Use only for genuinely tiny config relations (the reference's was a
    handful of rows); anything bigger belongs in a broadcast join (J2).
    """
    rows = config_df.select(key_col, value_col).collect()
    entries: list[Column] = []
    for r in rows:
        entries.extend([F.lit(r[key_col]), F.lit(r[value_col])])
    return F.create_map(*entries)


def apply_each(fn, *cols: Column) -> list[Column]:
    """§2.10 ``c/each`` (48 uses in the reference, e.g.
    m_cocacola_score_channel.clj:83): apply one scalar fn to N columns →
    N result columns. In Python this is a comprehension; the helper exists
    for discoverability/parity."""
    return [fn(c) for c in cols]


def apply_juxt(col: Column, *fns) -> list[Column]:
    """§2.10 ``c/juxt`` (31 uses, e.g. the three lag keys at
    m_cocacola_score_channel.clj:54): apply N fns to one column → N
    result columns."""
    return [fn(col) for fn in fns]
