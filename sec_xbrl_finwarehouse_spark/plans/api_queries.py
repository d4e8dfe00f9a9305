"""The three serving queries (src/sec_xbrl_finwarehouse/api.py) as
parameterized DataFrame builders over the two marts + companies dim.

All three order-by-then-limit plans compile to ``TakeOrderedAndProject``
(distributed top-k -- no full sort even at 100 TB), and the companies
join broadcasts (dimension << facts).

NULL-ordering note: Postgres bare ``DESC`` is NULLS FIRST, so the
reference spells ``DESC NULLS LAST`` where it matters (api.py:97);
Spark's ``desc()`` is NULLS LAST by default but we use the explicit
form everywhere for oracle-exactness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import dynamic_conjunction


def company_profile(companies: DataFrame, ticker: str) -> DataFrame:
    """GET /company/{ticker} (api.py:6-19): point lookup, case-normalized."""
    return (
        companies.filter(F.col("ticker") == ticker.upper())
        .select("cik", "ticker", "name")
    )


def company_ratios(
    companies: DataFrame, ratios: DataFrame, ticker: str, limit: int = 10
) -> DataFrame:
    """GET /ratios/{ticker} (api.py:21-43): ticker->cik lookup then keyed
    history, newest fiscal years first, limit clamped 1..50 (api.py:22)."""
    limit = max(1, min(50, limit))
    cik = companies.filter(F.col("ticker") == ticker.upper()).select("cik")
    return (
        ratios.join(F.broadcast(cik), "cik", "inner")
        .select(
            "fiscal_year", "gross_margin", "operating_margin", "net_margin",
            "roa", "roe", "leverage", "fcf_margin", "asset_turnover",
        )
        .orderBy(F.col("fiscal_year").desc())
        .limit(limit)
    )


def screener(
    ratios: DataFrame,
    companies: DataFrame,
    min_roe: float | None = None,
    min_fcf_margin: float | None = None,
    min_net_margin: float | None = None,
    year: int | None = None,
    limit: int = 25,
) -> DataFrame:
    """GET /screener (api.py:63-105): dynamic conjunctive filters over
    ratios join companies, ORDER BY fiscal_year DESC, roe DESC NULLS LAST,
    LIMIT clamped 1..200 (api.py:69).

    cik ASC is the final sort key so rows tied at the LIMIT boundary are
    stable across engines (the reference leaves that tie to Postgres).
    """
    limit = max(1, min(200, limit))
    preds = []
    if year is not None:
        preds.append(F.col("fiscal_year") == year)
    if min_roe is not None:
        preds.append(F.col("roe") >= min_roe)
    if min_fcf_margin is not None:
        preds.append(F.col("fcf_margin") >= min_fcf_margin)
    if min_net_margin is not None:
        preds.append(F.col("net_margin") >= min_net_margin)

    return (
        ratios.filter(dynamic_conjunction(preds))
        .join(F.broadcast(companies.select("cik", "ticker", "name")), "cik", "inner")
        .select("cik", "ticker", "name", "fiscal_year", "roe", "fcf_margin", "net_margin")
        .orderBy(F.col("fiscal_year").desc(), F.col("roe").desc_nulls_last(),
                 F.col("cik").asc())
        .limit(limit)
        .select("ticker", "name", "fiscal_year", "roe", "fcf_margin", "net_margin")
    )
