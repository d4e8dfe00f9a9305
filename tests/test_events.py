"""Event-frame semantics on hand-built frames that call no package code:
as-of tie semantics of the union + carry-forward window (ASOF is >=, an
equal-ts view matches, a click before any view is dropped, users never
cross) and Spark's HLL++ approx-distinct staying within its error
bound."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F


def _ts(minute: float) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(minutes=minute)


def _events(spark, rows):
    # rows: (event_id, user_id, event_type, ts_minute, value)
    return spark.createDataFrame(
        [(eid, u, et, _ts(m), v) for eid, u, et, m, v in rows],
        "event_id long, user_id long, event_type string, ts timestamp, value double",
    )


def _asof(spark, df):
    """As-of join of each click to the latest view at or before it, as a
    union of views and clicks with the last non-null view id carried
    forward per user."""
    from pyspark.sql import Window

    views = (
        df.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
        .select("user_id", "ts", "view_event_id", F.col("ts").alias("view_ts"),
                F.lit(None).cast("long").alias("click_event_id"), F.lit(0).alias("kind"))
    )
    clicks = (
        df.filter(F.col("event_type") == "click")
        .select("user_id", "ts",
                F.lit(None).cast("long").alias("view_event_id"),
                F.lit(None).cast("timestamp").alias("view_ts"),
                F.col("event_id").alias("click_event_id"), F.lit(1).alias("kind"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "click_event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        views.unionByName(clicks)
        .withColumn("matched_view_id", F.last("view_event_id", ignorenulls=True).over(w))
    )
    return (
        carried.filter((F.col("kind") == 1) & F.col("matched_view_id").isNotNull())
        .select("click_event_id", "matched_view_id")
    )


def test_asof_equal_ts_matches(spark):
    # ASOF is >=: a view at the exact click ts is a valid match
    rows = [(1, 1, "view", 10.0, 1.0), (2, 1, "click", 10.0, 1.0)]
    out = _asof(spark, _events(spark, rows)).collect()
    assert len(out) == 1 and out[0]["matched_view_id"] == 1


def test_asof_picks_latest_prior_view(spark):
    rows = [
        (1, 1, "view", 0.0, 1.0),
        (2, 1, "view", 5.0, 1.0),
        (3, 1, "click", 7.0, 1.0),   # matches view 2, not 1
        (4, 1, "view", 9.0, 1.0),    # after the click: must not match
    ]
    out = _asof(spark, _events(spark, rows)).collect()
    assert len(out) == 1 and out[0]["matched_view_id"] == 2


def test_asof_click_before_any_view_dropped(spark):
    rows = [(1, 1, "click", 0.0, 1.0), (2, 1, "view", 5.0, 1.0)]
    assert _asof(spark, _events(spark, rows)).count() == 0


def test_asof_per_user_isolation(spark):
    # user 2's view must never match user 1's click
    rows = [(1, 2, "view", 0.0, 1.0), (2, 1, "click", 5.0, 1.0)]
    assert _asof(spark, _events(spark, rows)).count() == 0


def test_approx_distinct_within_bound(spark):
    # the 100 TB scale path: HLL++ rsd=0.01 stays within 5% on 5k users
    df = spark.range(50_000).select(
        (F.col("id") % 5_000).alias("user_id"))
    approx = df.agg(F.approx_count_distinct("user_id", 0.01)).first()[0]
    assert abs(approx - 5_000) / 5_000 < 0.05
