"""S7: the serving edge -- the in-memory read model the API answers from,
and JSON response shaping of mart rows into the reference API's nested
response dicts (src/sec_xbrl_finwarehouse/api.py:19,45-61,107-119).

* ``GET /company/{ticker}``  -> {"cik", "ticker", "name"} or 404
* ``GET /ratios/{ticker}``   -> {"ticker", "years": [{...} per year]}
* ``GET /screener``          -> {"results": [{...} per row]}

The serving marts are small (companies x fiscal years, ~1e4 x 20 for
every SEC filer), so :class:`ReadModel` reads ``companies`` and
``ratios_annual`` once, through Arrow, into plain tuples, and answers
every request from Python structures: no Spark job per request. The
query builders in :mod:`.plans.api_queries` return the same row sets
as DataFrames (what ``__spark_entry__`` queries and the oracles use);
``collect_response`` runs one of them and shapes its page.

A row is a tuple in its shape's field order: a read-model tuple, or a
Spark ``Row`` from a builder's final select.

No web framework here on purpose: the reference's FastAPI layer maps
1:1 (route -> rows -> shape); any HTTP server can wrap these functions
without touching the engine.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import Any

from pyspark.sql import DataFrame


class NotFound(LookupError):
    """Maps to the reference's HTTPException(404) (api.py:17,29)."""


_TICKER_NOT_FOUND = "Ticker not found"

_COMPANY_FIELDS = ("cik", "ticker", "name")
_RATIO_YEAR_FIELDS = (
    "fiscal_year", "gross_margin", "operating_margin", "net_margin",
    "roa", "roe", "leverage", "fcf_margin", "asset_turnover",
)
_SCREENER_FIELDS = (
    "ticker", "name", "fiscal_year", "roe", "fcf_margin", "net_margin",
)
# screener row = (ticker, name) + these positions of a ratio-year row
_SCREENER_FROM_YEAR = tuple(
    _RATIO_YEAR_FIELDS.index(f) for f in _SCREENER_FIELDS[2:])
_SCREENER_FILTERS = tuple(
    _SCREENER_FIELDS.index(f) for f in ("roe", "fcf_margin", "net_margin"))
_YEAR_ROE = _RATIO_YEAR_FIELDS.index("roe")
_SCREENER_YEAR = _SCREENER_FIELDS.index("fiscal_year")


def _desc_nulls_last(v) -> tuple:
    """Sort key of Spark's ``DESC NULLS LAST`` on a number: NaN first
    (Spark orders NaN above every number), NULL last."""
    if v is None:
        return (2, 0)
    return (0, 0) if v != v else (1, -v)


def _at_least(v, bound: float) -> bool:
    """Spark's ``v >= bound`` as a filter: NULL never passes, NaN always
    does (NaN is above every number and equal to itself)."""
    return v is not None and (v != v or v >= bound)


def _rows(df: DataFrame, cols: Sequence[str]) -> list[tuple]:
    """``df`` projected to ``cols`` as plain tuples. Arrow keeps NULL
    (None) and NaN apart, which ``toPandas`` would not."""
    table = df.select(*cols).toArrow()
    return list(zip(*(c.to_pylist() for c in table.columns)))


class ReadModel:
    """Both serving marts, read once, answering the three endpoints.

    * ticker -> company rows (the stored ticker; requests are
      upper-cased, as ``api_queries.company_profile`` does);
    * cik -> ratio history, newest fiscal year first;
    * the screener rows -- ratios inner join companies -- sorted by
      ``(fiscal_year DESC, roe DESC NULLS LAST, cik ASC)``, and the same
      rows per fiscal year, so a screener request is a scan that stops
      at ``limit``.

    Nothing is mutated after construction. Limits arrive validated by
    the API."""

    __slots__ = ("_companies", "_history", "_screener", "_screener_by_year")

    def __init__(self, companies: DataFrame, ratios: DataFrame):
        by_ticker: dict[str, list[tuple]] = {}
        by_cik: dict[str, list[tuple]] = {}
        for c in _rows(companies, _COMPANY_FIELDS):
            by_ticker.setdefault(c[1], []).append(c)
            by_cik.setdefault(c[0], []).append(c)
        history: dict[str, list[tuple]] = {}
        ranked = []
        for cik, *year in _rows(ratios, ("cik", *_RATIO_YEAR_FIELDS)):
            if cik is None:  # a NULL key never joins
                continue
            year = tuple(year)
            history.setdefault(cik, []).append(year)
            key = (_desc_nulls_last(year[0]), _desc_nulls_last(year[_YEAR_ROE]),
                   cik)
            picked = tuple(year[i] for i in _SCREENER_FROM_YEAR)
            for c in by_cik.get(cik, ()):
                ranked.append((key, c[1:] + picked))
        for years in history.values():
            years.sort(key=lambda y: _desc_nulls_last(y[0]))
        ranked.sort(key=lambda kr: kr[0])
        self._companies = by_ticker
        self._history = history
        self._screener = [r for _, r in ranked]
        self._screener_by_year: dict[int, list[tuple]] = {}
        for r in self._screener:
            self._screener_by_year.setdefault(r[_SCREENER_YEAR], []).append(r)

    def company(self, ticker: str) -> Sequence[tuple]:
        """Company rows whose ticker is ``ticker`` upper-cased."""
        return self._companies.get(ticker.upper(), ())

    def ratio_history(self, ticker: str, limit: int) -> list[tuple]:
        """The newest ``limit`` ratio years of the ticker's company;
        :class:`NotFound` when no company has the ticker."""
        found = self.company(ticker)
        if not found:
            raise NotFound(_TICKER_NOT_FOUND)
        years = [y for c in found for y in self._history.get(c[0], ())]
        if len(found) > 1:  # a ticker shared by several ciks
            years.sort(key=lambda y: _desc_nulls_last(y[0]))
        return years[:limit]

    def screener(
        self,
        min_roe: float | None = None,
        min_fcf_margin: float | None = None,
        min_net_margin: float | None = None,
        year: int | None = None,
        limit: int = 25,
    ) -> list[tuple]:
        """The first ``limit`` ranked rows passing every given filter."""
        rows = (self._screener if year is None
                else self._screener_by_year.get(year, ()))
        bounds = [(i, b) for i, b in zip(
            _SCREENER_FILTERS, (min_roe, min_fcf_margin, min_net_margin))
            if b is not None]
        page = []
        for r in rows:
            for i, b in bounds:
                if not _at_least(r[i], b):
                    break
            else:
                page.append(r)
                if len(page) == limit:
                    break
        return page


def _dicts(rows: Sequence[tuple], fields: tuple[str, ...]) -> list[dict[str, Any]]:
    return [dict(zip(fields, r)) for r in rows]


def shape_company(rows: Sequence[tuple]) -> dict[str, Any]:
    """api.py:13-19: single-row point lookup or 404."""
    if not rows:
        raise NotFound(_TICKER_NOT_FOUND)
    return dict(zip(_COMPANY_FIELDS, rows[0]))


def shape_ratios(ticker: str, rows: Sequence[tuple]) -> dict[str, Any]:
    """api.py:45-61: {"ticker", "years": [...]} -- rows arrive newest
    fiscal year first, order is preserved."""
    return {
        "ticker": ticker.upper(),
        "years": _dicts(rows, _RATIO_YEAR_FIELDS),
    }


def shape_screener(rows: Sequence[tuple]) -> dict[str, Any]:
    """api.py:107-119: {"results": [...]} in ranked order."""
    return {"results": _dicts(rows, _SCREENER_FIELDS)}


def collect_response(df: DataFrame, shape, *args) -> dict[str, Any]:
    """Run a builder from :mod:`.plans.api_queries` and shape its page:
    the DataFrame is already LIMITed by the builder, so this collect
    moves one response page, not a table."""
    rows = df.collect()
    return shape(*args, rows) if args else shape(rows)
