"""statements_annual builder -- the reference's central transform, as one
lazy DataFrame DAG: filter -> window-dedup -> union -> pivot -> derive.

Three selectable versions mirror scripts/build_statements_annual*.py:

* v3 (canonical, build_statements_annual_v3.py): no filings join; fiscal
  year derived from period_end; flow facts need a ~1-year period
  (330-380 days) and form in (10-K, 20-F); stock facts are instantaneous
  (period_start IS NULL). Dedup = latest ``filed`` wins.
* v1/v2 (build_statements_annual.py / _v2.py): join filings on accession
  to borrow fiscal_year, keep fiscal_period='FY', prefer form='10-K'
  then latest filed. v1 uses the single ``Revenues`` tag; v2 adds the
  4-candidate coalesce with ``Revenues`` first; v3 reorders candidates.

Scale: the window dedup and the pivot share the same leading key
(cik, fiscal_year[, tag]); Spark plans one exchange for the window and
one hash-agg for the pivot. Filters sit below the window (Catalyst pushes
them into the parquet scan), so at 100 TB only the 12 whitelisted tags'
row groups are read (predicate pushdown on tag/form/unit).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import (
    coalesce_priority,
    days_between,
    fiscal_year_of,
    form_priority,
    null_propagating_sub,
    positive_outflow,
)
from ..operators.dedup import (
    desc_nulls_last_key,
    latest_wins,
    priority_dedup,
)
from ..operators.pivot import pivot_first
from ..schemas import (
    ANNUAL_FORMS,
    ANNUAL_PERIOD_DAYS,
    FLOW_TAGS,
    REVENUE_CANDIDATES_V2,
    REVENUE_CANDIDATES_V3,
    STATEMENT_TAG_COLUMNS,
    STOCK_TAGS,
)

_ALL_TAGS = tuple(FLOW_TAGS) + tuple(STOCK_TAGS)


def _dedup_order() -> list[Column]:
    """ORDER BY filed DESC NULLS LAST (v3.py:64-66) plus ``value DESC``
    so equal-`filed` ties are stable across engines (the reference
    leaves them to Postgres's physical order).

    ``value`` as the tiebreak is deliberate: rows tying on BOTH filed and
    value are interchangeable (only the value survives downstream), so
    this total-orders the *output* while keeping the order key scalar --
    which is what lets the argmax strategy stay in whole-stage-codegen
    HashAggregate instead of ObjectHashAggregate (a struct/string order
    key de-optimizes the agg buffer). A unique surrogate row id would NOT
    be a valid substitute: the driver's synthetic lineitem contains
    full-duplicate natural keys, and any id derived from them collides on
    rows with different values (measured -- it flips winners between
    engines)."""
    return [F.col("filed").desc_nulls_last(), F.col("value").desc()]


def annual_flow_facts(facts: DataFrame) -> DataFrame:
    """v3 flow-side base: P2-P5 + derived fiscal_year (v3.py:40-58)."""
    lo, hi = ANNUAL_PERIOD_DAYS
    return (
        facts.filter(
            (F.col("taxonomy") == "us-gaap")
            & (F.col("unit") == "USD")
            & F.col("tag").isin(list(FLOW_TAGS))
            & F.col("form").isin(list(ANNUAL_FORMS))
            & F.col("period_start").isNotNull()
            & F.col("period_end").isNotNull()
            & days_between(F.col("period_start"), F.col("period_end")).between(lo, hi)
        )
        .withColumn("fiscal_year", fiscal_year_of(F.col("period_end")))
    )


def annual_stock_facts(facts: DataFrame) -> DataFrame:
    """v3 stock-side base: instantaneous facts at FY end (v3.py:77-93)."""
    return (
        facts.filter(
            (F.col("taxonomy") == "us-gaap")
            & (F.col("unit") == "USD")
            & F.col("tag").isin(list(STOCK_TAGS))
            & F.col("form").isin(list(ANNUAL_FORMS))
            & F.col("period_end").isNotNull()
            & F.col("period_start").isNull()
        )
        .withColumn("fiscal_year", fiscal_year_of(F.col("period_end")))
    )


def annual_facts_one_pass(facts: DataFrame) -> DataFrame:
    """Flow ∪ stock base as ONE scan: the two sides differ only in tag set
    and period shape, so their union is a single disjunctive filter --
    half the scan/explode work of filtering twice and unioning."""
    lo, hi = ANNUAL_PERIOD_DAYS
    flow_side = (
        F.col("tag").isin(list(FLOW_TAGS))
        & F.col("period_start").isNotNull()
        & days_between(F.col("period_start"), F.col("period_end")).between(lo, hi)
    )
    stock_side = F.col("tag").isin(list(STOCK_TAGS)) & F.col("period_start").isNull()
    return (
        facts.filter(
            (F.col("taxonomy") == "us-gaap")
            & (F.col("unit") == "USD")
            & F.col("form").isin(list(ANNUAL_FORMS))
            & F.col("period_end").isNotNull()
            & (flow_side | stock_side)
        )
        .withColumn("fiscal_year", fiscal_year_of(F.col("period_end")))
    )


def canonical_tag_values_v3(facts: DataFrame) -> DataFrame:
    """One (cik, fiscal_year, tag, value) per concept-year: W1 dedup on each
    side, then U1 union (v3.py:60-70, 95-105, 113)."""
    cols = ["cik", "fiscal_year", "tag", "value"]
    order = _dedup_order()
    flow = latest_wins(annual_flow_facts(facts), ["cik", "fiscal_year", "tag"], order)
    stock = latest_wins(annual_stock_facts(facts), ["cik", "fiscal_year", "tag"], order)
    return flow.select(*cols).unionByName(stock.select(*cols))


def canonical_tag_values_v1v2(facts: DataFrame, filings: DataFrame) -> DataFrame:
    """v1/v2 path: borrow fiscal_year from filings (J1), keep FY periods,
    W2 dedup preferring 10-K then latest filed (v1.py:28-50; v2.py:33-57).

    ``filings`` is a small dimension -> broadcast hash join, no shuffle of
    the facts side beyond the dedup exchange.
    """
    joined = (
        facts.alias("f")
        .join(
            F.broadcast(
                filings.select("accession_no", "fiscal_year", "fiscal_period")
            ).alias("fl"),
            F.col("f.filing_accession_no") == F.col("fl.accession_no"),
            "inner",
        )
        .filter(
            F.col("fl.fiscal_year").isNotNull()
            & (F.col("fl.fiscal_period") == "FY")
            & (F.col("f.unit") == "USD")
        )
        .select("f.*", F.col("fl.fiscal_year").alias("fiscal_year"))
    )
    deduped = priority_dedup(
        joined,
        ["cik", "fiscal_year", "tag"],
        form_priority(F.col("form")),
        _dedup_order(),
    )
    return deduped.select("cik", "fiscal_year", "tag", "value")


def derive_statement_columns(wide: DataFrame, version: str) -> DataFrame:
    """Post-pivot derivations: revenue coalesce (A2), capex sign fix (F8),
    fcf = ocf - capex (F9) (v3.py:116-152)."""
    if version == "v1":
        revenues = F.col("Revenues")  # v1.py:5-15: single tag, no coalesce
    elif version == "v2":
        revenues = coalesce_priority(*REVENUE_CANDIDATES_V2)
    else:
        revenues = coalesce_priority(*REVENUE_CANDIDATES_V3)

    capex_raw = F.col(STATEMENT_TAG_COLUMNS["capex"])
    capex = positive_outflow(capex_raw) if version == "v3" else capex_raw
    ocf = F.col(STATEMENT_TAG_COLUMNS["operating_cash_flow"])

    return wide.select(
        "cik",
        "fiscal_year",
        revenues.alias("revenues"),
        F.col(STATEMENT_TAG_COLUMNS["gross_profit"]).alias("gross_profit"),
        F.col(STATEMENT_TAG_COLUMNS["operating_income"]).alias("operating_income"),
        F.col(STATEMENT_TAG_COLUMNS["net_income"]).alias("net_income"),
        F.col(STATEMENT_TAG_COLUMNS["total_assets"]).alias("total_assets"),
        F.col(STATEMENT_TAG_COLUMNS["total_liabilities"]).alias("total_liabilities"),
        F.col(STATEMENT_TAG_COLUMNS["total_equity"]).alias("total_equity"),
        ocf.alias("operating_cash_flow"),
        capex.alias("capex"),
        null_propagating_sub(ocf, capex).alias("free_cash_flow"),
    )


def _wide_v3_argmax(facts: DataFrame) -> DataFrame:
    """Fused dedup+pivot for v3 with scalar-only aggregation buffers.

    The window form sorts every (cik, fiscal_year, tag) partition twice
    (flow + stock) and shuffles a third time for the pivot. The W1
    winner is just an argmax, so instead:

      stage 1: groupBy(cik, fy, tag, filed) . max(value)
               -- collapses same-day refilings deterministically
                  (the `value DESC` tiebreak of _dedup_order)
      stage 2: groupBy(cik, fy) . pivot(tag) . max_by(value, filed)
               -- filed is now unique per (cik, fy, tag), so max_by is
                  deterministic; NULL filed ranks lowest via date floor

    Both stages are plain HashAggregates with primitive buffers (double /
    date-int) -- whole-stage-codegen, map-side partial combine, no sorts.
    A struct/string order key here would silently fall back to
    ObjectHashAggregate (~4x slower measured at sf0.1). Identical output
    to the window path (tests/test_statements_versions.py).

    When the input is hash-partitioned by cik (see
    ``synthetic_facts(entity_partitions=...)``), BOTH stages and the
    window alternative run exchange-free: every key here has cik as a
    prefix, so the cik partitioning satisfies each stage's
    ClusteredDistribution -- one exchange for the whole pipeline.
    """
    filed_key = desc_nulls_last_key(
        F.col("filed"), F.lit("0001-01-01").cast("date")
    )
    long = annual_facts_one_pass(facts).select(
        "cik", "fiscal_year", "tag", "value", filed_key.alias("__filed")
    )
    stage1 = long.groupBy("cik", "fiscal_year", "tag", "__filed").agg(
        F.max("value").alias("value")
    )
    return (
        stage1.groupBy("cik", "fiscal_year")
        .pivot("tag", list(_ALL_TAGS))
        .agg(F.max_by(F.col("value"), F.col("__filed")))
    )


def _wide_v1v2_argmax(facts: DataFrame, filings: DataFrame) -> DataFrame:
    """Fused dedup+pivot for v1/v2, the W2 twin of :func:`_wide_v3_argmax`.

    The W2 winner (form-priority CASE, then filed DESC NULLS LAST, then
    the ``value DESC`` tiebreak) is an argmax under ONE packed scalar
    key: ``(1 - form_priority) << 24 | days(filed since 0001-01-01)``.
    The priority bit dominates because the day count is < 2^24 for any
    representable date, and NULL filed floors to day 0 -- exactly the
    ``desc_nulls_last`` order. Equal-key rows differ only in value, so

      stage 1: groupBy(cik, fy, tag, key) . max(value)
      stage 2: groupBy(cik, fy) . pivot(tag) . max_by(value, key)

    are both whole-stage-codegen HashAggregates with primitive buffers
    (the struct-keyed ``max_by`` alternative falls back to
    ObjectHashAggregate -- see the v3 docstring). Identical output to
    the window path (tests/test_statements_versions.py)."""
    joined = (
        facts.alias("f")
        .join(
            F.broadcast(
                filings.select("accession_no", "fiscal_year", "fiscal_period")
            ).alias("fl"),
            F.col("f.filing_accession_no") == F.col("fl.accession_no"),
            "inner",
        )
        .filter(
            F.col("fl.fiscal_year").isNotNull()
            & (F.col("fl.fiscal_period") == "FY")
            & (F.col("f.unit") == "USD")
        )
        .select("f.tag", "f.value", "f.cik", "f.form", "f.filed",
                F.col("fl.fiscal_year").alias("fiscal_year"))
    )
    floor = F.lit("0001-01-01").cast("date")
    filed_days = F.datediff(
        desc_nulls_last_key(F.col("filed"), floor), floor
    ).cast("long")
    key = (
        (F.lit(1).cast("long") - form_priority(F.col("form")))
        * F.lit(1 << 24).cast("long")
        + filed_days
    )
    long = joined.select("cik", "fiscal_year", "tag", "value",
                         key.alias("__key"))
    stage1 = long.groupBy("cik", "fiscal_year", "tag", "__key").agg(
        F.max("value").alias("value")
    )
    return (
        stage1.groupBy("cik", "fiscal_year")
        .pivot("tag", list(_ALL_TAGS))
        .agg(F.max_by(F.col("value"), F.col("__key")))
    )


def build_statements(
    facts: DataFrame,
    version: str = "v3",
    filings: DataFrame | None = None,
    strategy: str = "argmax",
) -> DataFrame:
    """facts -> statements_annual (one row per cik x fiscal_year).

    ``strategy='argmax'`` (default) fuses dedup+pivot into one hash
    aggregation; ``'window'`` is the literal W1/W2 row_number spelling --
    same results, used for differential testing.
    """
    if version == "v3" and strategy == "argmax":
        wide = _wide_v3_argmax(facts)
    elif version == "v3":
        long = canonical_tag_values_v3(facts)
        wide = pivot_first(long, ["cik", "fiscal_year"], "tag", "value", _ALL_TAGS)
    elif version in ("v1", "v2"):
        if filings is None:
            raise ValueError(f"{version} requires the filings dimension (J1)")
        if strategy == "argmax":
            wide = _wide_v1v2_argmax(facts, filings)
        else:
            long = canonical_tag_values_v1v2(facts, filings)
            wide = pivot_first(
                long, ["cik", "fiscal_year"], "tag", "value", _ALL_TAGS
            )
    else:
        raise ValueError(f"unknown statements version: {version}")

    return derive_statement_columns(wide, version)
