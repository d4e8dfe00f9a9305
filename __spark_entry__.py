"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sec_xbrl_finwarehouse_spark import oracles
from sec_xbrl_finwarehouse_spark.plans import (
    audio_queries,
    corpus_queries,
    crossmodal_queries,
    embedding_queries,
    image_queries,
    text_queries,
)
from sec_xbrl_finwarehouse_spark.plans import star_queries as sq

SMOKE_SF_DIR = "/root/testdata/sf0.001"

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the full reference pipeline (ingest-shaped facts ->
    statements_annual, SURVEY.md §3.2) on sf0.001."""
    return sq.q_statements_annual(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # reference-parity pipeline + operators (SURVEY §2 / §3,
        # FIXTURES.md §C mapping)
        "statements_annual": sq.q_statements_annual,
        "ratios_annual": sq.q_ratios_annual,
        "screener": sq.q_screener,                            # P6 + J2 + O2
        "window_dedup_latest": sq.q_window_dedup_latest,      # W1
        "pivot_wide": sq.q_pivot_wide,                        # A1
        "flow_stock_union": sq.q_flow_stock_union,            # U1 + P4
        "window_dedup_priority": sq.q_window_dedup_priority,  # W2
        "coalesce_priority": sq.q_coalesce_priority,          # A2
        "annual_period_filter": sq.q_annual_period_filter,    # P5 + J1
        "top_k_orders": sq.q_top_k_orders,                    # O1/O2
        "natural_key_dedup": sq.q_natural_key_dedup,          # D1
        "insert_if_absent": sq.q_insert_if_absent,            # S6
        "upsert_latest_wins": sq.q_upsert_latest_wins,        # S5
        "statements_annual_v2": sq.q_statements_annual_v2,
        "statements_annual_v1": sq.q_statements_annual_v1,
        "company_profile": sq.q_company_profile,              # J3
        "ratios_lookup": sq.q_ratios_lookup,                  # O1
        **text_queries.QUERIES,
        **corpus_queries.QUERIES,
        **embedding_queries.QUERIES,
        **image_queries.QUERIES,
        **audio_queries.QUERIES,
        **crossmodal_queries.QUERIES,
    }


def oracle_sql() -> dict[str, str]:
    return {
        **oracles.build_reference_oracles(),
        **text_queries.ORACLES,
        **corpus_queries.ORACLES,
        **embedding_queries.ORACLES,
        **image_queries.ORACLES,
        **audio_queries.ORACLES,
        **crossmodal_queries.ORACLES,
    }
