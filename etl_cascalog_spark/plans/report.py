"""Deterministic JSON assembly for the report pipeline — the framework
behind the reference's 38 ``src/cocacola/rpt/`` jobs (SURVEY.md Appendix A).

Every report job in the reference is the same pipeline with different
parameters (source tap, filters, selector dims, payload dims → metrics):

  scan → filters → group-pivot (A4) → month spine (W5/J4) → calendar lags
  (W1/W2, trgx.clj:30-32) → null-safe deltas (X6) → nested payload (A7,
  tr-dimension-metrics trgx.clj:72-77) → JSON → append to ``ms.report``

The spec types (one per report shape) and their builders live in
:mod:`plans.reports_registry`; the sink row shape matches the reference's
generic report table (m_cocacola_score_overall.clj:40): dw_dt, project,
category, report, selector (JSON), selector_desc, dimension_metrics (JSON).

JSON output is built with deterministic string assembly
(:func:`plans.trgx.metrics_json` / :func:`json_object`): fixed key order,
decimal-string numbers — byte-identical across engines, so even the JSON
columns are oracle-checkable.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from etl_cascalog_spark.plans.trgx import json_key, json_string, metrics_json


def json_object(pairs: dict[str, Column]) -> Column:
    """Deterministic ``{"k":"v",...}`` JSON from string columns — fixed key
    order, every value a JSON string escaped by :func:`json_string` (NULL
    → ``""``)."""
    parts: list[Column] = []
    for i, (name, col) in enumerate(pairs.items()):
        parts.append(F.lit(("," if i else "") + json_key(name)))
        parts.append(json_string(F.coalesce(col.cast("string"), F.lit(""))))
    return F.concat(F.lit("{"), *parts, F.lit("}"))


def metric_leaf(
    metrics: Sequence[str] | Mapping[str, str],
    string_metrics: Sequence[str] = (),
    raw_json_metrics: Sequence[str] = (),
) -> Column:
    """Leaf JSON from a metrics declaration — a sequence of column names
    (JSON key = column name) or a mapping {json_key: column_name}:
    decimal(18,2) numbers by default, quoted strings for
    ``string_metrics`` (the reference ships sort keys/labels inside the
    leaf, ``:abbr`` m_cocacola_skus.clj:67), raw embedding for
    ``raw_json_metrics`` (columns that already hold a JSON document,
    ``:period_value`` m_cocacola_anal_rep_kpis.clj:48)."""
    mapping = metrics if isinstance(metrics, Mapping) else {m: m for m in metrics}
    cols: dict[str, Column] = {}
    for key, name in mapping.items():
        c = F.col(name)
        if key in raw_json_metrics:
            cols[key] = c
        elif key in string_metrics:
            cols[key] = json_string(c)
        else:
            cols[key] = c.cast("decimal(18,2)")
    return metrics_json(cols)
