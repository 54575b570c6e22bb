"""Filter semantics (SURVEY.md §2.3, F1-F11).

Cascalog's nullability markers carry filter semantics the engine must make
explicit (Appendix B of SURVEY.md):

- every ``?var`` binding is an implicit IS NOT NULL (F4);
- ``(not !var)`` is an IS NULL test (F3,
  ``m_cocacola_score_overall.clj:63``);
- a mapfn returning nil bound to a ``?var`` drops the row (F6 — the
  regex-guard idiom at ``m_cocacola_score_overall.clj:68-70``);
- plain (in)equality to constants (F1 ``m_cocacola_score_overall.clj:66``,
  F2 ``not=`` ``m_cocacola_score_channel.clj:76``) and constants in
  generator output position (F10, ``trgx.clj:199``) are ordinary
  ``col == lit`` / ``col != lit`` ``where`` clauses placed right after the
  scan — Catalyst pushes them into the source (the reference full-scanned
  Postgres and filtered on the cluster, SURVEY §4.1).

All helpers return/consume Column expressions — no Python UDFs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def require_non_null(df: DataFrame, *cols: str) -> DataFrame:
    """F4: the implicit NOT NULL of every ``?``-bound variable. Must be
    applied wherever the reference binds a tap column to ``?x`` — Catalyst
    pushes these into the parquet/JDBC scan."""
    out = df
    for c in cols:
        out = out.where(F.col(c).isNotNull())
    return out


def regex_keep(col: Column, pattern: str) -> Column:
    """F5 ``re-find`` filter (m_cocacola_score_overall.clj:67). Works on CJK
    text — Spark ``rlike`` is UTF-8 native."""
    return col.rlike(pattern)


def regex_drop(col: Column, pattern: str) -> Column:
    """F5 negated (m_cocacola_sovi_brand.clj:72)."""
    return ~col.rlike(pattern)


def regex_guard(col: Column, *drop_patterns: str) -> Column:
    """F6: the combined filter+project guard
    (m_cocacola_score_overall.clj:68-70) — value passes through unless it
    matches any drop-pattern, in which case NULL (and a downstream ``?var``
    binding drops the row: pair with :func:`require_non_null`)."""
    cond = None
    for p in drop_patterns:
        c = col.rlike(p)
        cond = c if cond is None else (cond | c)
    return F.when(~cond, col) if cond is not None else col


def not_in_set(col: Column, values: Sequence) -> Column:
    """F7 ``(c/partial get #{…})`` + ``(not !hit)`` — NOT IN
    (m_cocacola_score_period.clj:74-79)."""
    return ~col.isin(list(values))
