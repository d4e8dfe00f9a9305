"""Scalar expression helpers (SURVEY.md §2.8) — all pure Column expressions,
JVM-side, whole-stage-codegen friendly. No Python UDFs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def safe_div(a: Column, b: Column) -> Column:
    """NULL-safe division: NULL when a is NULL, b is NULL, or b == 0.

    Mirrors compute_ratios.py:5-8 in the reference. Explicit guard (rather
    than relying on non-ANSI div-by-zero -> NULL) so semantics are identical
    under ``spark.sql.ansi.enabled`` either way.
    """
    return F.when(a.isNull() | b.isNull() | (b == 0), F.lit(None)).otherwise(a / b)


def positive_outflow(c: Column) -> Column:
    """Normalize a cash outflow to positive: ``-c if c < 0 else c``.

    Mirrors the capex sign fix (build_statements_annual_v3.py:136-139).
    NULL stays NULL. Kept in ``when`` form to mirror the reference exactly
    (equivalent to abs for non-NULL input).
    """
    return F.when(c < 0, -c).otherwise(c)


def coalesce_priority(*cols: Column | str) -> Column:
    """First non-NULL among candidates in priority order.

    Mirrors the revenue-candidate scan (build_statements_annual_v3.py:118-123).
    """
    return F.coalesce(*[F.col(c) if isinstance(c, str) else c for c in cols])


def fiscal_year_of(period_end: Column) -> Column:
    """``EXTRACT(YEAR FROM period_end)::int`` (build_statements_annual_v3.py:45)."""
    return F.year(period_end).cast("int")


def days_between(start: Column, end: Column) -> Column:
    """``period_end - period_start`` in days (build_statements_annual_v3.py:50)."""
    return F.datediff(end, start)


def zero_pad_cik(c: Column) -> Column:
    """``str(cik).zfill(10)`` (sec_client.py:28; seed_companies.py:19)."""
    return F.lpad(c.cast("string"), 10, "0")


def null_propagating_sub(a: Column, b: Column) -> Column:
    """``a - b`` only when both present (fcf; build_statements_annual_v3.py:141-143).

    Spark's ``-`` already yields NULL if either side is NULL; the explicit
    helper documents the intent.
    """
    return a - b


def form_priority(form: Column) -> Column:
    """CASE WHEN form = '10-K' THEN 0 ELSE 1 END sort key
    (build_statements_annual.py:39; v2:44)."""
    return F.when(form == "10-K", F.lit(0)).otherwise(F.lit(1))


def dynamic_conjunction(preds: Sequence[Column]) -> Column:
    """AND-fold an optional-predicate list (screener WHERE builder, api.py:71-90).

    Empty list -> lit(True) (no filtering), matching the reference's
    empty-WHERE case.
    """
    out = F.lit(True)
    for p in preds:
        out = out & p
    return out
