"""Relational dedup operators (SURVEY.md §2.5 W1/W2, §2.11 D1-D3).

Scale notes: all three are single-shuffle operators keyed on their
partition/dedup columns. ``row_number`` dedup shuffles once on the key
and sorts within partitions -- at 100 TB the key (cik/fiscal_year/tag or
similar) is high-cardinality and evenly spread, so AQE handles residual
skew. ``dropDuplicates`` compiles to a hash aggregate with map-side
partial dedup (cheaper than a window when no ordering is required).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_ROWNUM = "__rn"


def latest_wins(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column],
) -> DataFrame:
    """Keep exactly one row per key: first under ``order_by``.

    The reference's W1: ``ROW_NUMBER() OVER (PARTITION BY cik, fiscal_year,
    tag ORDER BY filed DESC NULLS LAST) ... WHERE rn = 1``
    (build_statements_annual_v3.py:60-70,95-105). Callers must pass a
    *total* order (include a unique tiebreak column) for deterministic
    output -- the reference leaves equal-`filed` ties nondeterministic.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn(_ROWNUM, F.row_number().over(w))
        .filter(F.col(_ROWNUM) == 1)
        .drop(_ROWNUM)
    )


def priority_dedup(
    df: DataFrame,
    keys: Sequence[str],
    priority: Column,
    order_by: Sequence[Column],
) -> DataFrame:
    """W2 variant: CASE-priority key first, then ``order_by``
    (build_statements_annual.py:36-41; v2:41-46 -- prefer 10-K, then
    latest filed)."""
    return latest_wins(df, keys, [priority, *order_by])


def desc_nulls_last_key(col: Column, floor: Column) -> Column:
    """Build an ascending argmax key equivalent to ``col DESC NULLS LAST``:
    NULL sorts below every real value (replaced by ``floor``)."""
    return F.coalesce(col, floor)


def natural_key_dedup(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Exact-duplicate suppression on a natural key (D1).

    Mirrors the facts UNIQUE constraint + ``ON CONFLICT DO NOTHING``
    (db/schema.sql:39; ingest_facts.py:141): any row agreeing on all key
    columns is the *same* observation, so arbitrary-winner semantics are
    safe and ``dropDuplicates`` (hash agg, map-side combine, single
    shuffle) is the cheapest plan.
    """
    return df.dropDuplicates(list(keys))
