"""Nested companyfacts JSON -> (filings, facts) flatten, as pure DataFrame ops.

The reference walks the nested dict imperatively
(scripts/ingest_facts.py:39-88: ``facts["us-gaap"][tag]["units"]["USD"][...]``,
tag whitelist, null-val drop, float cast, ISO date parse, last-wins filings
dedup keyed by accession). Here the same semantics are a chain of
``explode``s over MapType entries -- a distributed UDTF-free flatten that
scales to any number of documents: the only shuffle is the filings dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import zero_pad_cik
from ..operators.dedup import latest_wins, natural_key_dedup
from ..schemas import COMPANYFACTS_SCHEMA, CORE_TAGS, FACTS_NATURAL_KEY


def read_companyfacts_json(spark: SparkSession, path: str) -> DataFrame:
    """Read raw companyfacts documents (one JSON object per file/line)."""
    return spark.read.schema(COMPANYFACTS_SCHEMA).json(path, multiLine=True)


def flatten_facts(docs: DataFrame) -> DataFrame:
    """One row per (company, tag, fact item), FACTS_SCHEMA shape.

    Semantics per ingest_facts.py:39-88:
      * only the us-gaap taxonomy (:41-46), only the USD unit (:51)
      * tag whitelist ``CORE_TAGS`` (:47-48)
      * rows with NULL ``val`` dropped (:52-54)
      * ``float(val)`` -> double (:80), ``date.fromisoformat`` -> to_date (:36-37)
      * cik zero-padded to 10 (sec_client.py:28)

    Output is FACTS_SCHEMA plus ``fy``/``fp`` (the item's fiscal year /
    period, ingest_facts.py:62-63): the reference's filings rows take
    fiscal_year/fiscal_period from the fact ITEM (:70), so the columns
    must survive the flatten for :func:`derive_filings` to reproduce
    FILINGS_SCHEMA. Select FACTS_SCHEMA's columns to store facts.
    """
    tags = (
        docs.select(
            zero_pad_cik(F.col("cik")).alias("cik"),
            F.explode(F.col("facts")).alias("taxonomy", "tag_map"),
        )
        .filter(F.col("taxonomy") == "us-gaap")
        .select("cik", "taxonomy", F.explode(F.col("tag_map")).alias("tag", "payload"))
        .filter(F.col("tag").isin(list(CORE_TAGS)))
    )
    items = (
        tags.select(
            "cik", "taxonomy", "tag",
            F.explode(F.col("payload.units")).alias("unit", "items"),
        )
        .filter(F.col("unit") == "USD")
        .select("cik", "taxonomy", "tag", "unit", F.explode(F.col("items")).alias("it"))
        .filter(F.col("it.val").isNotNull())
    )
    return items.select(
        "cik", "taxonomy", "tag", "unit",
        F.to_date("it.start").alias("period_start"),
        F.to_date("it.end").alias("period_end"),
        F.col("it.val").cast("double").alias("value"),
        F.col("it.accn").alias("filing_accession_no"),
        F.col("it.form").alias("form"),
        F.to_date("it.filed").alias("filed"),
        F.col("it.frame").alias("frame"),
        F.col("it.fy").cast("int").alias("fy"),
        F.col("it.fp").alias("fp"),
    )


def derive_filings(facts: DataFrame) -> DataFrame:
    """Filings dimension derived from flattened facts.

    The reference overwrites a dict entry per accession while scanning, so
    "last fact encountered wins" -- order-dependent (ingest_facts.py:65-70).
    We make it deterministic: latest (filed, report_date) wins per
    accession. ``report_date`` is period_end as the reference's V1 proxy
    (:68); ``fiscal_year``/``fiscal_period`` come from the item's fy/fp
    (:70), matching FILINGS_SCHEMA -- so the output feeds the v1/v2
    statements join (J1: accession -> fiscal_year, fiscal_period='FY')
    directly."""
    withs = facts.filter(F.col("filing_accession_no").isNotNull()).select(
        F.col("filing_accession_no").alias("accession_no"),
        "cik", "form",
        F.col("filed").alias("filing_date"),
        F.col("period_end").alias("report_date"),
        F.col("fy").cast("int").alias("fiscal_year"),
        F.col("fp").alias("fiscal_period"),
    )
    return latest_wins(
        withs,
        ["accession_no"],
        [
            F.col("filing_date").desc_nulls_last(),
            F.col("report_date").desc_nulls_last(),
            # total order even when one accession carries conflicting
            # metadata across items (possible in raw companyfacts)
            F.col("form").desc_nulls_last(),
            F.col("fiscal_year").desc_nulls_last(),
            F.col("fiscal_period").desc_nulls_last(),
        ],
    )


def dedup_facts(facts: DataFrame) -> DataFrame:
    """Idempotent-ingest dedup on the natural key (db/schema.sql:39)."""
    return natural_key_dedup(facts, FACTS_NATURAL_KEY)
