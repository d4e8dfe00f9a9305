"""Seeded input generators and the ground truth their outputs must match.

Everything here is plain Python, independent of the package under test:
the expected marts are derived from the generated fact items by a
direct implementation of the documented statements rules
(``expected_statements``), never by calling the program.

* :class:`Warehouse` -- companyfacts documents for 1,000 companies
  (supplier keys 0..999, as in the sf0.1 star schema), with every noise
  class ingest filters out and a few heavy entities.
* :func:`request_schedule` -- an open-loop Poisson schedule of API
  requests with Zipf-distributed tickers and 1 in 21 expected 404/422s.
* :func:`dedup_corpus` -- documents plus planted near-copies at known
  edit rates, with the exact Jaccard of every planted pair.

The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import bisect
import datetime as dt
import json
import math
import os
import random
from dataclasses import dataclass, field

N_COMPANIES = 1000
FIRST_YEAR = 2013          # first fiscal year of every company
YEARS = 5                  # fiscal years per company
SHARDS = 8                 # companyfacts JSON files the documents are split into
SHINGLE_K = 3              # word shingle length of the near-duplicate Jaccard
TAIL_BEYOND = 10           # samples a reported tail percentile must have above it

REVENUE_TAGS = (
    "RevenueFromContractWithCustomerExcludingAssessedTax",
    "SalesRevenueNet",
    "Revenues",
    "TotalRevenues",
)
FLOW_TAGS = REVENUE_TAGS + (
    "GrossProfit",
    "OperatingIncomeLoss",
    "NetIncomeLoss",
    "NetCashProvidedByUsedInOperatingActivities",
    "PaymentsToAcquirePropertyPlantAndEquipment",
)
STOCK_TAGS = ("Assets", "Liabilities", "StockholdersEquity")
ANNUAL_FORMS = ("10-K", "20-F")

STATEMENT_COLUMNS = (
    "revenues", "gross_profit", "operating_income", "net_income",
    "total_assets", "total_liabilities", "total_equity",
    "operating_cash_flow", "capex", "free_cash_flow",
)
RATIO_COLUMNS = (
    "gross_margin", "operating_margin", "net_margin", "roa", "roe",
    "leverage", "fcf_margin", "asset_turnover",
)
_RATIO_DEFS = (
    ("gross_margin", "gross_profit", "revenues"),
    ("operating_margin", "operating_income", "revenues"),
    ("net_margin", "net_income", "revenues"),
    ("roa", "net_income", "total_assets"),
    ("roe", "net_income", "total_equity"),
    ("leverage", "total_assets", "total_equity"),
    ("fcf_margin", "free_cash_flow", "revenues"),
    ("asset_turnover", "revenues", "total_assets"),
)


def cik_str(key: int) -> str:
    return f"{key:010d}"


def ticker_of(key: int) -> str:
    return f"SUPPLIER#{key:09d}"


def name_of(key: int) -> str:
    return f"Supplier#{key:09d}"


# --------------------------------------------------------------------------
# companyfacts documents
# --------------------------------------------------------------------------

@dataclass
class Item:
    """One raw fact item as it appears in a companyfacts document."""
    taxonomy: str
    tag: str
    unit: str
    val: float | None
    accn: str
    form: str
    filed: str
    start: str | None
    end: str
    fy: int
    fp: str

    def as_json(self) -> dict:
        return {"val": self.val, "accn": self.accn, "form": self.form,
                "filed": self.filed, "start": self.start, "end": self.end,
                "frame": None, "fy": self.fy, "fp": self.fp}


@dataclass
class Company:
    key: int
    fy_end_month: int          # 12 = calendar year, 6 = June year end
    revenue_tags: tuple[str, ...]
    heavy: bool
    items: list[Item] = field(default_factory=list)
    filings: int = 0           # accession counter

    def period(self, fy: int) -> tuple[str, str]:
        if self.fy_end_month == 12:
            return f"{fy}-01-01", f"{fy}-12-31"
        return f"{fy - 1}-07-01", f"{fy}-06-30"

    def next_accn(self, form: str) -> str:
        self.filings += 1
        return f"{self.key:010d}-{form}-{self.filings:05d}"


def _money(rng: random.Random, lo: int, hi: int) -> float:
    return float(rng.randint(lo, hi) * 1000)


class Warehouse:
    """Seeded companyfacts corpus with its expected marts.

    ``years`` fiscal years per ordinary company; heavy companies (1 in
    100) carry ten annual filings per year and ten times the quarterly
    noise, so they hold about ten times the fact items of the rest."""

    def __init__(self, seed: int, years: int = YEARS):
        self.rng = random.Random(seed * 7919 + 17)
        self.companies: list[Company] = []
        heavy = set(self.rng.sample(range(N_COMPANIES), N_COMPANIES // 100))
        for key in range(N_COMPANIES):
            n_rev = 1 + (self.rng.random() < 0.3)
            self.companies.append(Company(
                key=key,
                fy_end_month=12 if self.rng.random() < 0.8 else 6,
                revenue_tags=tuple(self.rng.sample(REVENUE_TAGS, n_rev)),
                heavy=key in heavy,
            ))
        for c in self.companies:
            for fy in range(FIRST_YEAR, FIRST_YEAR + years):
                self._add_year(c, fy)

    # -- item emission ------------------------------------------------------

    def _filed(self, fy: int, c: Company) -> str:
        base = dt.date(fy + (c.fy_end_month == 12), 2 if c.fy_end_month == 12 else 8, 1)
        return (base + dt.timedelta(days=self.rng.randint(0, 40))).isoformat()

    def _annual_values(self, c: Company) -> dict[str, float | None]:
        r = self.rng
        rev = _money(r, 5_000, 900_000)
        vals: dict[str, float | None] = {t: rev + _money(r, 0, 50) for t in c.revenue_tags}
        vals["GrossProfit"] = _money(r, 1_000, 400_000) if r.random() < 0.9 else None
        vals["OperatingIncomeLoss"] = _money(r, -50_000, 200_000)
        vals["NetIncomeLoss"] = _money(r, -80_000, 150_000)
        vals["NetCashProvidedByUsedInOperatingActivities"] = _money(r, -10_000, 300_000)
        capex = _money(r, 100, 90_000)
        vals["PaymentsToAcquirePropertyPlantAndEquipment"] = -capex if r.random() < 0.3 else capex
        assets = _money(r, 10_000, 2_000_000)
        vals["Assets"] = assets
        vals["Liabilities"] = _money(r, 1_000, int(assets / 1000))
        # equity of exactly 0 exercises the NULL-on-zero-denominator ratios
        vals["StockholdersEquity"] = 0.0 if r.random() < 0.02 else _money(r, -5_000, 900_000)
        return {t: v for t, v in vals.items() if v is not None}

    def _annual_items(self, c: Company, fy: int, vals: dict, form: str,
                      filed: str) -> list[Item]:
        start, end = c.period(fy)
        accn = c.next_accn(form)
        out = []
        for tag, v in vals.items():
            stock = tag in STOCK_TAGS
            out.append(Item("us-gaap", tag, "USD", v, accn, form, filed,
                            None if stock else start, end, fy, "FY"))
        return out

    def _noise_items(self, c: Company, fy: int, vals: dict, filed: str) -> list[Item]:
        """Items that ingest or the statements rules must discard."""
        r = self.rng
        start, end = c.period(fy)
        later = (dt.date.fromisoformat(filed) + dt.timedelta(days=30)).isoformat()
        out: list[Item] = []
        quarters = 10 if c.heavy else 1
        y0 = int(start[:4])
        m0 = int(start[5:7])
        for q in range(3 * quarters):
            qs = dt.date(y0, m0, 1) + dt.timedelta(days=91 * (q % 3))
            qe = qs + dt.timedelta(days=89)
            qaccn = c.next_accn("10-Q")
            for tag in (c.revenue_tags[0], "NetIncomeLoss", "Assets"):
                stock = tag in STOCK_TAGS
                out.append(Item("us-gaap", tag, "USD", _money(r, 1, 90_000), qaccn,
                                "10-Q", later, None if stock else qs.isoformat(),
                                qe.isoformat(), fy, f"Q{q % 3 + 1}"))
        # a 90-day period filed on a 10-K (fourth-quarter breakout)
        q4s = (dt.date.fromisoformat(end) - dt.timedelta(days=89)).isoformat()
        out.append(Item("us-gaap", c.revenue_tags[0], "USD", _money(r, 1, 90_000),
                        c.next_accn("10-K"), "10-K", later, q4s, end, fy, "Q4"))
        tag = r.choice(sorted(vals))
        stock = tag in STOCK_TAGS
        s = None if stock else start
        # EUR unit, ifrs-full taxonomy, NULL value: all filed later, so any
        # leak past ingest would win the latest-filed dedup
        out.append(Item("us-gaap", tag, "EUR", _money(r, 1, 90_000),
                        c.next_accn("10-K"), "10-K", later, s, end, fy, "FY"))
        out.append(Item("ifrs-full", tag, "USD", _money(r, 1, 90_000),
                        c.next_accn("20-F"), "20-F", later, s, end, fy, "FY"))
        out.append(Item("us-gaap", tag, "USD", None,
                        c.next_accn("10-K"), "10-K", later, s, end, fy, "FY"))
        # later-filed amendment: 10-K/A is not an annual form under v3
        out.append(Item("us-gaap", tag, "USD", _money(r, 1, 90_000),
                        c.next_accn("10-K/A"), "10-K/A", later, s, end, fy, "FY"))
        # a tag outside the core whitelist
        out.append(Item("us-gaap", "CommonStockSharesOutstanding", "USD",
                        _money(r, 1, 90_000), c.next_accn("10-K"), "10-K",
                        later, None, end, fy, "FY"))
        return out

    def _add_year(self, c: Company, fy: int) -> None:
        filed = self._filed(fy, c)
        vals = self._annual_values(c)
        new = self._annual_items(c, fy, vals, "10-K", filed)
        # exact duplicate of one annual item (same natural key and value)
        new.append(new[self.rng.randrange(len(new))])
        if c.heavy:
            # nine later-filed 10-K refilings, the last one wins
            d = dt.date.fromisoformat(filed)
            for k in range(1, 10):
                d += dt.timedelta(days=3)
                vals = {t: v + 1000.0 * k for t, v in vals.items()}
                new += self._annual_items(c, fy, vals, "10-K", d.isoformat())
        new += self._noise_items(c, fy, vals, filed)
        c.items += new

    # -- documents ----------------------------------------------------------

    def document(self, c: Company) -> dict:
        facts: dict[str, dict] = {}
        for it in c.items:
            units = facts.setdefault(it.taxonomy, {}).setdefault(
                it.tag, {"units": {}})["units"]
            units.setdefault(it.unit, []).append(it.as_json())
        return {"entityName": name_of(c.key), "cik": c.key, "facts": facts}

    def write_documents(self, out_dir: str) -> int:
        """Write every company's document into SHARDS JSON-array files;
        returns the bytes written."""
        os.makedirs(out_dir, exist_ok=True)
        total = 0
        for s in range(SHARDS):
            docs = [self.document(c) for c in self.companies[s::SHARDS]]
            data = json.dumps(docs, separators=(",", ":")).encode()
            with open(os.path.join(out_dir, f"part-{s:03d}.json"), "wb") as f:
                f.write(data)
            total += len(data)
        return total

    def n_items(self) -> int:
        return sum(len(c.items) for c in self.companies)

    def write_suppliers(self, sf_dir: str) -> None:
        """The companies dimension the marts join: supplier.parquet with
        the sf0.1 key and name shape."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(sf_dir, exist_ok=True)
        pq.write_table(pa.table({
            "s_suppkey": pa.array(range(N_COMPANIES), pa.int64()),
            "s_name": [name_of(k) for k in range(N_COMPANIES)],
        }), os.path.join(sf_dir, "supplier.parquet"))

    # -- ground truth -------------------------------------------------------

    def expected_statements(self, keys=None) -> dict[tuple[str, int], dict]:
        keys = range(N_COMPANIES) if keys is None else keys
        out = {}
        for k in keys:
            out.update(expected_statements(cik_str(k), self.companies[k].items))
        return out


def write_warehouse_inputs(seed: int, inputs: str) -> tuple[int, int, dict]:
    """Write the companies dimension (``inputs/sf``) and the companyfacts
    documents (``inputs/docs``) of ``seed``; returns the JSON bytes
    written, the fact items generated and the expected statements."""
    wh = Warehouse(seed)
    wh.write_suppliers(f"{inputs}/sf")
    return wh.write_documents(f"{inputs}/docs"), wh.n_items(), wh.expected_statements()


def _days(a: str, b: str) -> int:
    return (dt.date.fromisoformat(b) - dt.date.fromisoformat(a)).days


def expected_statements(cik: str, items: list[Item]) -> dict[tuple[str, int], dict]:
    """statements_annual (v3) rows of one company from its raw items:
    us-gaap/USD/annual-form facts with a non-NULL value, flow facts over a
    330-380 day period, stock facts instantaneous; fiscal year = year of
    period end; latest ``filed`` wins, ties to the larger value."""
    best: dict[tuple[int, str], tuple[str, float]] = {}
    for it in items:
        if (it.taxonomy != "us-gaap" or it.unit != "USD" or it.val is None
                or it.form not in ANNUAL_FORMS):
            continue
        if it.tag in FLOW_TAGS:
            if it.start is None or not 330 <= _days(it.start, it.end) <= 380:
                continue
        elif it.tag in STOCK_TAGS:
            if it.start is not None:
                continue
        else:
            continue
        key = (int(it.end[:4]), it.tag)
        cand = (it.filed, it.val)
        if key not in best or cand > best[key]:
            best[key] = cand
    wide: dict[int, dict[str, float]] = {}
    for (fy, tag), (_, v) in best.items():
        wide.setdefault(fy, {})[tag] = v
    rows = {}
    for fy, w in wide.items():
        rev = next((w[t] for t in REVENUE_TAGS if t in w), None)
        capex = w.get("PaymentsToAcquirePropertyPlantAndEquipment")
        if capex is not None and capex < 0:
            capex = -capex
        ocf = w.get("NetCashProvidedByUsedInOperatingActivities")
        rows[(cik, fy)] = {
            "revenues": rev,
            "gross_profit": w.get("GrossProfit"),
            "operating_income": w.get("OperatingIncomeLoss"),
            "net_income": w.get("NetIncomeLoss"),
            "total_assets": w.get("Assets"),
            "total_liabilities": w.get("Liabilities"),
            "total_equity": w.get("StockholdersEquity"),
            "operating_cash_flow": ocf,
            "capex": capex,
            "free_cash_flow": None if ocf is None or capex is None else ocf - capex,
        }
    return rows


def expected_ratios(stmt: dict) -> dict:
    def div(a, b):
        return None if a is None or b is None or b == 0 else a / b
    return {n: div(stmt[a], stmt[b]) for n, a, b in _RATIO_DEFS}


# --------------------------------------------------------------------------
# API request schedule
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class Request:
    due: float        # seconds after the schedule starts
    path: str         # URL path + query string, already percent-encoded
    endpoint: str     # company | ratios | screener
    params: tuple     # what the expected body is derived from


def _zipf_cdf(n: int, s: float) -> list[float]:
    w = [1.0 / (i + 1) ** s for i in range(n)]
    tot = sum(w)
    acc, out = 0.0, []
    for x in w:
        acc += x / tot
        out.append(acc)
    return out


# No traffic trace of this API is in the repository, so the request mix
# makes the neutral choice wherever one is open; these are assumptions,
# not measurements. The three endpoints come in equal shares, shuffled in
# blocks of 21 whose last slot is a bad request (1 in 21, about 5%, an
# expected 404 or 422). Tickers follow the plain Zipf law (exponent 1).
# Limits are uniform over the range the API accepts; each screener filter
# is present with probability 1/2, a year uniform over the generated
# years, a threshold uniform over [-0.1, 0.3] in steps of 0.01.
ZIPF_S = 1.0
_BLOCK = ("company", "ratios", "screener") * 7


def request_schedule(seed: int, rate: float, seconds: float) -> list[Request]:
    """Open-loop schedule: Poisson arrivals at ``rate`` per second over
    ``seconds``, conditioned on their count (``rate * seconds`` requests
    at independent uniform times: latency here rises steeply with load,
    so every run offers the same load), with the mix described above
    and tickers drawn over a seeded permutation of the 1,000 companies."""
    rng = random.Random(seed * 104729 + 3)
    order = list(range(N_COMPANIES))
    rng.shuffle(order)
    cdf = _zipf_cdf(N_COMPANIES, ZIPF_S)

    def ticker() -> str:
        return ticker_of(order[min(bisect.bisect_left(cdf, rng.random()),
                                   N_COMPANIES - 1)])

    def enc(t: str) -> str:
        return t.replace("#", "%23")

    def maybe(value):
        return value if rng.random() < 0.5 else None

    out, block = [], []
    for t in sorted(rng.uniform(0, seconds) for _ in range(round(rate * seconds))):
        if not block:
            block = list(_BLOCK)
            rng.shuffle(block)
        bad = len(block) == 1
        endpoint = block.pop()
        if endpoint == "company":
            tk = f"NOSUCH{rng.randrange(10**6):06d}" if bad else ticker()
            out.append(Request(t, f"/company/{enc(tk.lower())}", "company", (tk,)))
        elif endpoint == "ratios":
            tk = ticker()
            limit = rng.choice((0, 51, -1)) if bad else rng.randint(1, 50)
            out.append(Request(t, f"/ratios/{enc(tk)}?limit={limit}", "ratios",
                               (tk, limit)))
        else:
            q = [("year", maybe(rng.randrange(FIRST_YEAR, FIRST_YEAR + YEARS)))]
            q += [(p, maybe(rng.randint(-10, 30) / 100))
                  for p in ("min_roe", "min_fcf_margin", "min_net_margin")]
            q.append(("limit", rng.randint(1, 200)))
            if bad:
                q = [("min_roe", "abc"), q[-1]]
            qs = "&".join(f"{k}={v}" for k, v in q if v is not None)
            out.append(Request(t, f"/screener?{qs}", "screener", tuple(q)))
    return out


# --------------------------------------------------------------------------
# near-duplicate corpus
# --------------------------------------------------------------------------

_VOCAB = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data a "
    "vector join index shuffle plan stage task cache page node edge graph "
    "ratio fiscal year revenue asset equity filing ledger audit report"
).split()
EDIT_RATES = (0.0, 0.02, 0.05, 0.1, 0.3)


def tokens_of(text: str) -> list[str]:
    return [t for t in text.strip().lower().split(" ") if t != ""]


def shingles_of(text: str) -> set[str]:
    w = tokens_of(text)
    if len(w) < SHINGLE_K:
        return set()
    return {" ".join(w[i:i + SHINGLE_K]) for i in range(len(w) - SHINGLE_K + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles_of(a), shingles_of(b)
    if not sa and not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


# near-copies per source document, cycled: every seed plants clusters of
# the same shapes, so the connected-components work does not vary by seed
COPIES_PER_SOURCE = (1, 2, 3, 1)


def dedup_corpus(seed: int, n_docs: int = 1000, n_planted: int = 100):
    """``n_docs`` random documents plus ``n_planted`` near-copies of
    distinct originals (1, 2 or 3 copies each, see COPIES_PER_SOURCE),
    each copy at an edit rate from EDIT_RATES (fraction of tokens
    replaced). Returns (rows, planted) where planted maps
    (original_id, copy_id) -> exact shingle Jaccard."""
    rng = random.Random(seed * 15485863 + 11)
    rows = []
    for i in range(n_docs):
        n = rng.randint(20, 100)
        rows.append(" ".join(rng.choice(_VOCAB) for _ in range(n)))
    sources = iter(rng.sample(range(n_docs), n_docs))
    planted = {}
    j = k = 0
    while j < n_planted:
        src = next(sources)
        for _ in range(COPIES_PER_SOURCE[k % len(COPIES_PER_SOURCE)]):
            if j == n_planted:
                break
            rate = EDIT_RATES[j % len(EDIT_RATES)]
            w = rows[src].split(" ")
            for p in range(len(w)):
                if rng.random() < rate:
                    w[p] = rng.choice(_VOCAB)
            rows.append(" ".join(w))
            planted[(src, n_docs + j)] = jaccard(rows[src], rows[-1])
            j += 1
        k += 1
    return rows, planted


def write_corpus(sf_dir: str, rows: list[str]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(rows)), pa.int64()),
        "text": rows,
        "lang": ["en"] * len(rows),
        "source": [f"src{i % 4}" for i in range(len(rows))],
        "n_chars": pa.array([len(t) for t in rows], pa.int64()),
    }), os.path.join(sf_dir, "documents.parquet"))


def expected_components(n: int, pairs) -> dict[int, int]:
    """Union-find over (a, b) pairs -> doc_id -> min id of its component."""
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n)}


def percentile_tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile of ``values`` with at
    least TAIL_BEYOND samples above it. With fewer than
    ``2 * TAIL_BEYOND + 1`` samples that percentile would not lie above the
    median, so the maximum is reported instead."""
    xs = sorted(values)
    n = len(xs)
    if n < 2 * TAIL_BEYOND + 1:
        return 100.0, xs[-1]
    idx = n - TAIL_BEYOND - 1
    return 100.0 * (idx + 1) / n, xs[idx]


def median(values) -> float:
    xs = sorted(values)
    n = len(xs)
    return xs[n // 2] if n % 2 else 0.5 * (xs[n // 2 - 1] + xs[n // 2])


def isclose(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
