"""Schemas and concept constants for the warehouse.

Types follow db/schema.sql in the reference (/root/reference/db/schema.sql:4-80)
with NUMERIC mapped to DoubleType because the reference itself floats every
value on ingest (scripts/ingest_facts.py:80 ``float(val)``).

Tag constants mirror:
  * CORE_TAGS              -- scripts/ingest_facts.py:11-31
  * FLOW_TAGS/STOCK_TAGS   -- scripts/build_statements_annual_v3.py:12-29
  * REVENUE_CANDIDATES_V3  -- scripts/build_statements_annual_v3.py:5-10
  * REVENUE_CANDIDATES_V2  -- scripts/build_statements_annual_v2.py:5-10
  * V1 single-tag map      -- scripts/build_statements_annual.py:5-15
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Concept constants
# --------------------------------------------------------------------------

REVENUE_CANDIDATES_V3: tuple[str, ...] = (
    "RevenueFromContractWithCustomerExcludingAssessedTax",
    "SalesRevenueNet",
    "Revenues",
    "TotalRevenues",
)

REVENUE_CANDIDATES_V2: tuple[str, ...] = (
    "Revenues",
    "SalesRevenueNet",
    "RevenueFromContractWithCustomerExcludingAssessedTax",
    "TotalRevenues",
)

FLOW_TAGS: tuple[str, ...] = REVENUE_CANDIDATES_V3 + (
    "GrossProfit",
    "OperatingIncomeLoss",
    "NetIncomeLoss",
    "NetCashProvidedByUsedInOperatingActivities",
    "PaymentsToAcquirePropertyPlantAndEquipment",
)

STOCK_TAGS: tuple[str, ...] = (
    "Assets",
    "Liabilities",
    "StockholdersEquity",
)

CORE_TAGS: frozenset[str] = frozenset(FLOW_TAGS) | frozenset(STOCK_TAGS)

# statement column <- source tag (single-tag metrics; revenues is the
# coalesce of REVENUE_CANDIDATES handled separately)
STATEMENT_TAG_COLUMNS: dict[str, str] = {
    "gross_profit": "GrossProfit",
    "operating_income": "OperatingIncomeLoss",
    "net_income": "NetIncomeLoss",
    "total_assets": "Assets",
    "total_liabilities": "Liabilities",
    "total_equity": "StockholdersEquity",
    "operating_cash_flow": "NetCashProvidedByUsedInOperatingActivities",
    "capex": "PaymentsToAcquirePropertyPlantAndEquipment",
}

# facts natural key (db/schema.sql:39) -- note value and filed are part of it
FACTS_NATURAL_KEY: tuple[str, ...] = (
    "cik", "taxonomy", "tag", "unit",
    "period_start", "period_end", "value", "filed",
)

ANNUAL_PERIOD_DAYS: tuple[int, int] = (330, 380)  # v3.py:58
ANNUAL_FORMS: tuple[str, ...] = ("10-K", "20-F")  # v3.py:54

# --------------------------------------------------------------------------
# Warehouse table schemas (db/schema.sql)
# --------------------------------------------------------------------------

FILINGS_SCHEMA = T.StructType([
    T.StructField("accession_no", T.StringType(), False),
    T.StructField("cik", T.StringType(), False),
    T.StructField("form", T.StringType(), True),
    T.StructField("filing_date", T.DateType(), True),
    T.StructField("report_date", T.DateType(), True),
    T.StructField("fiscal_year", T.IntegerType(), True),
    T.StructField("fiscal_period", T.StringType(), True),
    T.StructField("created_at", T.TimestampType(), True),
])

FACTS_SCHEMA = T.StructType([
    T.StructField("cik", T.StringType(), False),
    T.StructField("taxonomy", T.StringType(), False),
    T.StructField("tag", T.StringType(), False),
    T.StructField("unit", T.StringType(), False),
    T.StructField("period_start", T.DateType(), True),
    T.StructField("period_end", T.DateType(), True),
    T.StructField("value", T.DoubleType(), False),
    T.StructField("filing_accession_no", T.StringType(), True),
    T.StructField("form", T.StringType(), True),
    T.StructField("filed", T.DateType(), True),
    T.StructField("frame", T.StringType(), True),
])

RATIOS_ANNUAL_SCHEMA = T.StructType([
    T.StructField("cik", T.StringType(), False),
    T.StructField("fiscal_year", T.IntegerType(), False),
    T.StructField("gross_margin", T.DoubleType(), True),
    T.StructField("operating_margin", T.DoubleType(), True),
    T.StructField("net_margin", T.DoubleType(), True),
    T.StructField("roa", T.DoubleType(), True),
    T.StructField("roe", T.DoubleType(), True),
    T.StructField("leverage", T.DoubleType(), True),
    T.StructField("fcf_margin", T.DoubleType(), True),
    T.StructField("asset_turnover", T.DoubleType(), True),
])

# the ``documents`` table of the test data (TESTDATA.md). Declared so a scan
# launches no schema-inference job; a file without some of these
# columns reads them as NULL.
DOCUMENTS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
    T.StructField("source", T.StringType(), True),
    T.StructField("n_chars", T.LongType(), True),
])

# --------------------------------------------------------------------------
# Nested companyfacts document (SEC XBRL JSON; ingest_facts.py:39-63)
# facts: taxonomy -> tag -> {units: unit -> [fact...]}
# --------------------------------------------------------------------------

FACT_ITEM_SCHEMA = T.StructType([
    T.StructField("val", T.DoubleType(), True),
    T.StructField("accn", T.StringType(), True),
    T.StructField("form", T.StringType(), True),
    T.StructField("filed", T.StringType(), True),   # ISO date string in source
    T.StructField("start", T.StringType(), True),
    T.StructField("end", T.StringType(), True),
    T.StructField("frame", T.StringType(), True),
    T.StructField("fy", T.LongType(), True),
    T.StructField("fp", T.StringType(), True),
])

COMPANYFACTS_SCHEMA = T.StructType([
    T.StructField("entityName", T.StringType(), True),
    T.StructField("cik", T.LongType(), True),
    T.StructField(
        "facts",
        T.MapType(
            T.StringType(),  # taxonomy
            T.MapType(
                T.StringType(),  # tag
                T.StructType([
                    T.StructField(
                        "units",
                        T.MapType(T.StringType(), T.ArrayType(FACT_ITEM_SCHEMA)),
                        True,
                    ),
                ]),
            ),
        ),
        True,
    ),
])

# driver star-schema table names (TESTDATA.md)
STAR_TABLES: tuple[str, ...] = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
