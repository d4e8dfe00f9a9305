"""Executed-plan evidence for a scale mechanism the engine relies on:
AQE skew-join splitting under a manufactured hot key. This is a
runtime behavior the 100 TB story assumes; asserting it against real
plans keeps a refactor from silently losing it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_aqe_splits_skewed_join(spark, tmp_path):
    """One key holding ~97% of the left side: AQE's skew-join handling
    must mark the sort-merge join as skew-split at runtime (the
    ``isSkewJoin=true`` plan marker) instead of leaving one straggler
    task with the whole hot key."""
    # thresholds lowered so the tiny test dataset trips the skew logic
    conf = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 60_000).select(
            F.when(F.col("id") % 30 != 0, F.lit(7))
            .otherwise(F.col("id") % 13).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        right = spark.range(0, 13).select(
            F.col("id").alias("k"), F.col("id").alias("dim")
        )
        # global agg downstream: a groupBy(k) here would REQUIRE the
        # join's hash partitioning and AQE would (correctly) refuse to
        # split the skewed partitions rather than add a shuffle
        joined = left.join(right, "k").agg(
            F.count("*").alias("n"), F.max(F.length("payload")).alias("m")
        )
        # collect(), not first(): first() spawns a separate limit query
        # execution, leaving THIS frame's adaptive plan unexecuted
        assert joined.collect()[0]["n"] == 60_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "isSkewJoin=true" in plan or "skew=true" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
