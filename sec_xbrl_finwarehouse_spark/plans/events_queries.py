"""Time-series / event analytics over the driver ``events`` table.

Beyond-reference operator pack (SURVEY.md §2.9, §7.1 item 7): the
reference is pure batch warehouse with no event-time semantics; these are
the operators a large-scale event pipeline needs, expressed Spark-first
(single-pass windows, hash aggregation) and each paired with a DuckDB
oracle co-located in this module so the two spellings cannot drift.

Scale notes (100 TB): every query here shuffles at most once on its
natural key (``user_id`` or the time bucket); the as-of join is the
union+window single-pass form -- NOT an inequality join, which Spark
plans as broadcast-nested-loop and explodes at scale. Sessionization is
two windows over one ``user_id`` shuffle (sort reused by both).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import table_path
from .sqlfrag import hex_prefix_bigint_sql, hex_prefix_frac_sql

SESSION_GAP_SEC = 1800
TOPK_PER_USER = 3


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts`` normalized to a microsecond TIMESTAMP_NTZ.

    The driver parquet has shipped ``ts`` three different ways across
    rounds, and callers routinely hand us an externally-built session
    (the driver's verify harness does), so this loader must accept all
    of them and emit ONE canonical dtype:

    * TIMESTAMP(NANOS): the Spark vectorized reader rejects it outright;
      the ``spark.sql.legacy.parquet.nanosAsLong`` conf (runtime-settable;
      there is no per-read option) reads the raw int64 and ``div 1000``
      truncates to micros -- exactly how DuckDB coerces the same column.
    * TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as TIMESTAMP_NTZ
      (the current testdata shape) -- kept as-is.
    * TIMESTAMP(MICROS, adjusted): arrives as TIMESTAMP -- cast to NTZ
      (wall-clock preserving in the session zone).

    Canonical NTZ matches DuckDB, whose parquet timestamps are naive
    micros, so every downstream ts-emitting query hashes identically to
    its oracle regardless of which parquet flavor was read.

    The session time zone is pinned to UTC here (runtime-settable, like
    the nanos conf): the TIMESTAMP->NTZ cast and every
    ``to_utc_timestamp``/``F.window`` evaluation read wall clocks
    through the SESSION zone, so an externally-built session running in
    e.g. America/New_York would otherwise shift every rendered ts by
    its (DST-varying!) offset and silently diverge from the oracle's
    naive arithmetic.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return normalize_events_ts(
        spark.read.parquet(table_path(sf_dir, "events"))
    )


def normalize_events_ts(e: DataFrame) -> DataFrame:
    """The three-flavor ``ts`` dispatch of :func:`_events`, shared with
    tools/scale_proof.py so the scaled corpus and the query path can
    never canonicalize differently."""
    dt = dict(e.dtypes).get("ts")
    if dt == "bigint":
        e = e.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    elif dt == "timestamp":
        e = e.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return e


def _epoch_micros(c):
    """Epoch microseconds of a TIMESTAMP or TIMESTAMP_NTZ column.

    ``F.unix_micros`` only accepts TIMESTAMP, so NTZ input (the canonical
    ``_events`` dtype) is first pinned to an instant via
    ``to_utc_timestamp(c, 'UTC')``. NOTE: that conversion reads the NTZ
    wall clock through the SESSION zone first, which is why
    :func:`_events` pins ``spark.sql.session.timeZone`` to UTC -- under
    a non-UTC session a DST transition between two events would shift
    their epoch DIFFERENCE (offsets do not cancel across a DST change).
    With the session pinned the value is the naive wall clock read as
    UTC, matching DuckDB's ``date_diff('microsecond', ...)``.
    """
    return F.unix_micros(F.to_utc_timestamp(c, "UTC"))


# ---- tumbling event-time window -------------------------------------------

def q_event_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window per event_type: count / sum / avg.

    Uses the real ``F.window`` operator (the plan Structured Streaming
    uses with a watermark) -- one hash aggregation keyed
    (window, event_type), map-side partial combine.
    """
    # NULL-ts guard, mirrored in the oracle: F.window silently DROPS
    # NULL-timestamp rows while date_trunc would keep a NULL bucket --
    # filter explicitly on both sides so the semantics agree (and are
    # stated) rather than diverging the day the driver ships a NULL
    e = _events(spark, sf_dir).filter(F.col("ts").isNotNull())
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
            F.avg("value").alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("bucket_start"),
            "event_type", "n_events", "total_value", "avg_value",
        )
    )


EVENT_WINDOW_AGG_SQL = """
SELECT date_trunc('hour', ts) AS bucket_start,
       event_type,
       count(*) AS n_events,
       sum(value) AS total_value,
       avg(value) AS avg_value
FROM events
WHERE ts IS NOT NULL
GROUP BY 1, 2
"""


# ---- sessionization (gaps-and-islands) ------------------------------------

def q_event_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions with a 30-min inactivity gap.

    Batch spelling of ``session_window``: lag -> new-session flag ->
    running sum = session id, then aggregate. Both windows and the final
    groupBy share the one ``user_id`` hash-partitioning; the
    per-partition sort is reused by both window functions (one shuffle
    total).
    """
    return sessionize(_events(spark, sf_dir))


def sessionize(e: DataFrame) -> DataFrame:
    """The gaps-and-islands core of :func:`q_event_sessionize` over an
    already-loaded events frame — the unit tests drive THIS function on
    in-memory frames, so the expression they exercise (including the
    ``_epoch_micros`` timezone behavior) is the production one, never a
    re-implementation that can drift."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_sess = (
        prev.isNull()
        | ((_epoch_micros(F.col("ts")) - _epoch_micros(prev)) > SESSION_GAP_SEC * 1_000_000)
    ).cast("long")
    sess = (
        e.withColumn("new_sess", new_sess)
        .withColumn("session_seq", F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        ((_epoch_micros(F.max("ts")) - _epoch_micros(F.min("ts"))) / F.lit(1_000_000.0)
         ).alias("duration_sec"),
        F.sum("value").alias("total_value"),
    )


EVENT_SESSIONIZE_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR date_diff('microsecond', lag(ts) OVER w, ts) > {SESSION_GAP_SEC} * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessed AS (
  SELECT * EXCLUDE (new_sess),
         -- BIGINT cast: DuckDB sum(int) is HUGEINT -> float64 in pandas,
         -- which would type-mismatch Spark's int64 session_seq
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq,
       count(*) AS n_events,
       min(ts) AS session_start,
       max(ts) AS session_end,
       date_diff('microsecond', min(ts), max(ts)) / 1000000.0 AS duration_sec,
       sum(value) AS total_value
FROM sessed
GROUP BY 1, 2
"""


# ---- as-of join (click -> latest prior view) ------------------------------

def q_event_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click matched to the latest view at-or-before it,
    per user.

    Spark-first single-pass form: union both sides, one window per user
    carrying the last non-null view forward (``last(..., ignorenulls)``
    over rows unbounded-preceding..current). An inequality-join spelling
    would be a broadcast-nested-loop -- quadratic per user at scale; this
    is one shuffle + one sort. Views are first deduped to one per
    (user, ts) so equal-ts ties match the oracle's ASOF JOIN exactly;
    views sort before clicks at equal ts (ASOF is ``>=``).
    """
    e = _events(spark, sf_dir)
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
        .select("user_id", "ts", "view_event_id", F.col("ts").alias("view_ts"),
                F.lit(None).cast("long").alias("click_event_id"), F.lit(0).alias("kind"))
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select("user_id", "ts",
                F.lit(None).cast("long").alias("view_event_id"),
                F.lit(None).cast(dict(e.dtypes)["ts"]).alias("view_ts"),
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
        .withColumn("matched_view_ts", F.last("view_ts", ignorenulls=True).over(w))
    )
    return (
        carried.filter((F.col("kind") == 1) & F.col("matched_view_id").isNotNull())
        .select("click_event_id", "user_id", F.col("ts").alias("click_ts"),
                F.col("matched_view_id").alias("view_event_id"),
                F.col("matched_view_ts").alias("view_ts"))
    )


EVENT_ASOF_JOIN_SQL = """
WITH v AS (
  SELECT user_id, ts AS view_ts, max(event_id) AS view_event_id
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
),
c AS (
  SELECT event_id AS click_event_id, user_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
)
SELECT c.click_event_id, c.user_id, c.click_ts, v.view_event_id, v.view_ts
FROM c ASOF JOIN v ON c.user_id = v.user_id AND c.click_ts >= v.view_ts
"""


# ---- rollup / grouping sets ------------------------------------------------

def q_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (event_type, day): per-day, per-type subtotals and grand
    total in one pass -- Spark expands grouping sets in a single
    aggregation (partial combine covers all levels).

    ``day`` is a midnight TIMESTAMP (date_trunc), not DATE, on both
    sides: rollup total rows have NULL day, and a timestamp column
    nulls as NaT in Arrow/pandas on both engines (a Spark DATE arrives
    as python-date objects whose null is None -- same values, different
    rendering, spurious hash mismatch)."""
    e = _events(spark, sf_dir).withColumn("day", F.date_trunc("day", "ts"))
    return (
        e.rollup("event_type", "day")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
    )


EVENT_ROLLUP_SQL = """
SELECT event_type,
       -- TIMESTAMP cast: DuckDB's date_trunc('day') yields DATE, Spark's a
       -- midnight timestamp; cast so both row-tuples and Arrow frames agree
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       count(*) AS n_events, sum(value) AS total_value
FROM events
GROUP BY ROLLUP (event_type, day)
"""


# ---- lag-based growth rates ------------------------------------------------

def q_event_daily_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily totals + day-over-day growth via ``lag`` (the
    'growth rates' extension hook, reference README.md:167). NULL-safe:
    growth NULL on the first day or when the prior total is 0."""
    e = _events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    daily = e.groupBy("event_type", "day").agg(F.sum("value").alias("total_value"))
    w = Window.partitionBy("event_type").orderBy("day")
    prev = F.lag("total_value").over(w)
    return daily.withColumn(
        "growth",
        F.when(prev.isNull() | (prev == 0), F.lit(None))
         .otherwise((F.col("total_value") - prev) / prev),
    )


EVENT_DAILY_GROWTH_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, sum(value) AS total_value
  FROM events GROUP BY 1, 2
)
SELECT event_type, day, total_value,
       CASE WHEN lag(total_value) OVER w IS NULL OR lag(total_value) OVER w = 0
            THEN NULL
            ELSE (total_value - lag(total_value) OVER w) / lag(total_value) OVER w
       END AS growth
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day)
"""


# ---- top-k per group -------------------------------------------------------

def q_event_topk_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events by value per user (rank-within-group). row_number
    with a unique tiebreak -> deterministic; Spark runs it after one
    ``user_id`` shuffle with a partial top-k sort per partition."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc_nulls_last(), F.col("event_id").asc())
    return (
        e.select("user_id", "event_id", "event_type", "value")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOPK_PER_USER)
    )


EVENT_TOPK_PER_USER_SQL = f"""
SELECT user_id, event_id, event_type, value, rk
FROM (
  SELECT user_id, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY value DESC NULLS LAST, event_id ASC) AS rk
  FROM events
)
WHERE rk <= {TOPK_PER_USER}
"""


# ---- distinct users (exact; approx is the 100TB path) ----------------------

def q_event_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event_type. At 100 TB the same query runs
    as ``approx_count_distinct(user_id, 0.01)`` (HLL++, no second shuffle,
    fixed-size sketch mergeable map-side) -- unit-tested within 5% in
    tests/test_events.py; the exact form is the oracle-checked one."""
    e = _events(spark, sf_dir)
    return e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


EVENT_DISTINCT_USERS_SQL = """
SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
FROM events GROUP BY 1
"""


# ---- interval (band) join --------------------------------------------------

BAND_SEC = 300


def interval_join_counts(e: DataFrame, band_sec: int = BAND_SEC) -> DataFrame:
    """Band join core: for each click, count the same user's views within
    +/-band_sec of the click.

    A raw inequality join is broadcast-nested-loop (quadratic per user).
    Scalable spelling: bucket both sides into band-width buckets; each
    click also probes its two neighbor buckets (explode of 3 keys), so
    every qualifying pair shares exactly ONE equi-join key (the view's
    bucket) -- a plain hash join with 3x key fan-out, no dedup needed.
    The exact band predicate filters the bucket-collision false
    positives. One shuffle on (user_id, bucket) either side; at 100 TB
    the bucket width trades fan-out against collision rate.
    """
    us = _epoch_micros(F.col("ts"))
    band_us = band_sec * 1_000_000
    views = (
        e.filter(F.col("event_type") == "view")
        .select("user_id", us.alias("v_us"),
                F.floor(us / band_us).alias("bucket"))
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_event_id"),
                F.col("ts").alias("click_ts"), us.alias("c_us"),
                F.floor(us / band_us).alias("b"))
        .select("user_id", "click_event_id", "click_ts", "c_us",
                F.explode(F.array(F.col("b") - 1, F.col("b"),
                                  F.col("b") + 1)).alias("bucket"))
    )
    matched = (
        clicks.join(views, ["user_id", "bucket"])
        .filter(F.abs(F.col("v_us") - F.col("c_us")) <= band_us)
        .groupBy("click_event_id")
        .agg(F.count("*").alias("n_views"))
    )
    all_clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event_id"), "user_id",
        F.col("ts").alias("click_ts"),
    )
    return (
        all_clicks.join(matched, "click_event_id", "left")
        .select("click_event_id", "user_id", "click_ts",
                F.coalesce(F.col("n_views"), F.lit(0)).alias("n_views"))
    )


def q_event_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band join over the driver events table (see interval_join_counts)."""
    return interval_join_counts(_events(spark, sf_dir))


EVENT_INTERVAL_JOIN_SQL = f"""
WITH c AS (
  SELECT event_id AS click_event_id, user_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
),
v AS (SELECT user_id, ts FROM events WHERE event_type = 'view')
SELECT c.click_event_id, c.user_id, c.click_ts,
       count(v.ts) AS n_views
FROM c LEFT JOIN v
  ON c.user_id = v.user_id
 AND abs(date_diff('microsecond', c.click_ts, v.ts)) <= {BAND_SEC} * 1000000
GROUP BY 1, 2, 3
"""


# ---- ordered funnel (view -> click -> purchase) ----------------------------

def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered funnel: first view, first click AT OR AFTER that
    view, first purchase at or after that click, and the stage reached
    (0-3). The ordering constraint is what makes this a funnel rather
    than three independent mins -- a click before any view does not
    count.

    Plan shape: three min-aggregations and three left joins, ALL keyed
    on user_id -- one hash-partitioning serves every step (each
    aggregation's min combines map-side), so at 100 TB this is one
    shuffle of the events projection and small per-user state, never a
    sort. Events with one of the three types feed the aggregations;
    everything else only contributes to the user universe."""
    e = _events(spark, sf_dir).select("user_id", "event_type", "ts")
    users = e.select("user_id").distinct()
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("first_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("first_view"))
        .groupBy("user_id").agg(F.min("ts").alias("first_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("first_click"))
        .groupBy("user_id").agg(F.min("ts").alias("first_purchase"))
    )
    stage = (
        F.when(F.col("first_purchase").isNotNull(), 3)
        .when(F.col("first_click").isNotNull(), 2)
        .when(F.col("first_view").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        users.join(v, "user_id", "left")
        .join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select("user_id", "first_view", "first_click", "first_purchase",
                stage.cast("int").alias("stage"))
    )


EVENT_FUNNEL_SQL = """
WITH u AS (SELECT DISTINCT user_id FROM events),
v AS (
  SELECT user_id, min(ts) AS first_view
  FROM events WHERE event_type = 'view' GROUP BY 1
),
c AS (
  SELECT e.user_id, min(e.ts) AS first_click
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts >= v.first_view
  GROUP BY 1
),
p AS (
  SELECT e.user_id, min(e.ts) AS first_purchase
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= c.first_click
  GROUP BY 1
)
SELECT u.user_id, v.first_view, c.first_click, p.first_purchase,
       (CASE WHEN p.first_purchase IS NOT NULL THEN 3
             WHEN c.first_click IS NOT NULL THEN 2
             WHEN v.first_view IS NOT NULL THEN 1
             ELSE 0 END)::INT AS stage
FROM u
LEFT JOIN v USING (user_id)
LEFT JOIN c USING (user_id)
LEFT JOIN p USING (user_id)
"""


# ---- daily anomaly detection (z-score) -------------------------------------

ANOMALY_Z = 2.0


def q_event_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-total anomaly flags per event_type: z-score of each day's
    total value against that type's own daily distribution, |z| >=
    {ANOMALY_Z} flagged. The monitoring query every event pipeline runs.

    One (type, day) aggregation, then mean/stddev as an unpartitioned-
    frame window per type over the SMALL daily table (days x types rows
    -- bounded regardless of corpus size, so the window is safe even
    though it funnels per-type groups). Sample stddev on both engines;
    z rounded to 6 places for cross-engine float stability; zero-
    variance types yield NULL z and are never flagged."""
    e = _events(spark, sf_dir)
    daily = (
        e.withColumn("day", F.to_date("ts"))
        .groupBy("event_type", "day")
        .agg(F.sum("value").alias("total_value"))
    )
    w = Window.partitionBy("event_type")
    mu = F.avg("total_value").over(w)
    sd = F.stddev("total_value").over(w)
    z = F.when(sd > 0, F.round((F.col("total_value") - mu) / sd, 6))
    return daily.select(
        "event_type", "day", "total_value",
        z.alias("z"),
        F.coalesce(F.abs(z) >= ANOMALY_Z, F.lit(False)).alias("is_anomaly"),
    )


EVENT_ANOMALY_SQL = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, sum(value) AS total_value
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, avg(total_value) AS mu, stddev_samp(total_value) AS sd
  FROM daily GROUP BY 1
)
SELECT d.event_type, d.day, d.total_value,
       CASE WHEN s.sd > 0
            THEN round((d.total_value - s.mu) / s.sd, 6) END AS z,
       coalesce(abs(CASE WHEN s.sd > 0
                         THEN round((d.total_value - s.mu) / s.sd, 6) END)
                >= {ANOMALY_Z}, false) AS is_anomaly
FROM daily d JOIN stats s USING (event_type)
"""


# ---- cohort retention ------------------------------------------------------

def q_event_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-seen day, counted
    on each later active day as a day offset. THE standard product
    analytics rollup (cohort x offset -> distinct actives).

    Two aggregations: first-seen day per user (map-side combinable min
    on the user_id shuffle), then distinct (user, day) activity joined
    back -- the join and both aggs key on user_id first, so one
    partitioning carries the pipeline until the final small
    (cohort_day, day_offset) rollup, whose output is bounded by
    days x days regardless of corpus size."""
    e = _events(spark, sf_dir).select("user_id", F.to_date("ts").alias("day"))
    cohort = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    active = e.distinct()
    return (
        active.join(cohort, "user_id")
        .select(
            "user_id", "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


EVENT_RETENTION_SQL = """
WITH e AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
cohort AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1)
SELECT c.cohort_day,
       date_diff('day', c.cohort_day, e.day) AS day_offset,
       count(DISTINCT e.user_id) AS n_users
FROM e JOIN cohort c USING (user_id)
GROUP BY 1, 2
"""


# ---- exact percentiles (linear interpolation) ------------------------------

def q_event_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of value per event_type (linear interpolation,
    same semantics as SQL quantile_cont). Exact `percentile` needs the
    full group sorted -- fine per-type; at 100 TB switch to
    `approx_percentile` (t-digest sketch, map-side mergeable, bounded
    memory) at a declared error bound."""
    e = _events(spark, sf_dir)
    pct = F.expr("percentile(value, array(0.5D, 0.9D, 0.99D))")
    return (
        e.groupBy("event_type")
        .agg(pct.alias("p"))
        .select(
            "event_type",
            F.round(F.col("p")[0], 6).alias("p50"),
            F.round(F.col("p")[1], 6).alias("p90"),
            F.round(F.col("p")[2], 6).alias("p99"),
        )
    )


EVENT_PERCENTILES_SQL = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY 1
"""


# ---- cube ------------------------------------------------------------------

def q_event_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (event_type, day): all four grouping sets in one aggregation
    pass (Spark expands the sets before the partial aggregate, so the
    shuffle carries pre-combined rows for every level at once).

    ``day`` is a midnight TIMESTAMP on both sides for null-rendering
    parity on the total rows (see q_event_rollup)."""
    e = _events(spark, sf_dir).withColumn("day", F.date_trunc("day", "ts"))
    return (
        e.cube("event_type", "day")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
    )


EVENT_CUBE_SQL = """
SELECT event_type,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       count(*) AS n_events, sum(value) AS total_value
FROM events
GROUP BY CUBE (event_type, day)
"""


# ---- sliding event-time window ---------------------------------------------


def q_event_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour window advancing every 30 minutes, per event_type:
    count, value sum, distinct users. Each event contributes to exactly
    2 overlapping windows -- ``F.window(ts, '1 hour', '30 minutes')`` is
    the same operator Structured Streaming uses with a watermark, and
    Spark expands the row into its window memberships before one hash
    aggregation (map-side combinable; distinct-user state is per
    (window, type) group).

    The DuckDB oracle expands the membership explicitly: a window START
    for every 30-min boundary in [floor30(ts) - 30min, floor30(ts)] --
    the relational spelling of the same expansion."""
    # NULL-ts guard mirrored in the oracle (see q_event_window_agg)
    e = _events(spark, sf_dir).filter(F.col("ts").isNotNull())
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            # round 6: each event lands in 2 overlapping groups, so the
            # per-group float-sum ORDER differs between engines often
            # enough to surface (caught as a hash near-miss at sf0.01:
            # 179.6 vs 179.60000000000002); integer-cent data would not
            # need this, arbitrary doubles do
            F.round(F.sum("value"), 6).alias("total_value"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").alias("bucket_start"),
            "event_type", "n_events", "total_value", "n_users",
        )
    )


EVENT_SLIDING_WINDOW_SQL = """
WITH expanded AS (
  SELECT t.bucket_start, e.event_type, e.user_id, e.value
  FROM (SELECT * FROM events WHERE ts IS NOT NULL) e
  CROSS JOIN LATERAL (
    SELECT unnest([
      date_trunc('hour', e.ts)
        + CASE WHEN extract(minute FROM e.ts) >= 30
               THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END
        - INTERVAL 30 MINUTE,
      date_trunc('hour', e.ts)
        + CASE WHEN extract(minute FROM e.ts) >= 30
               THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END
    ]) AS bucket_start
  ) t
)
SELECT bucket_start, event_type,
       count(*) AS n_events,
       round(sum(value), 6) AS total_value,
       count(DISTINCT user_id) AS n_users
FROM expanded
GROUP BY 1, 2
"""


# ---- DAU / WAU rolling actives ---------------------------------------------

WAU_DAYS = 7


def q_event_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users + trailing-{WAU_DAYS}-day actives (WAU) +
    stickiness (DAU/WAU) per day -- the engagement triple every product
    dashboard ships.

    Exact rolling distinct cannot ride an ordinary window frame (state
    is a SET, not an aggregate), so the scale-correct spelling expands
    each (user, day) membership into the {WAU_DAYS} trailing report days
    it supports -- first dedup to distinct (user, day) (the big
    reduction, map-side combinable), THEN explode x{WAU_DAYS} on the
    already-small distinct set, then one count_distinct per report day.
    Days with zero activity simply have no row, and report days drawing
    on partial leading windows are emitted as-is (standard dashboard
    semantics). At 100 TB the expansion is bounded by distinct
    (user, day) x {WAU_DAYS}, orders of magnitude below the event
    stream."""
    e = _events(spark, sf_dir)
    user_days = (
        e.select("user_id", F.to_date("ts").alias("day")).distinct()
    )
    dau = user_days.groupBy("day").agg(F.count("*").alias("dau"))
    expanded = user_days.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), WAU_DAYS - 1))
        ).alias("report_day"),
    )
    wau = expanded.groupBy("report_day").agg(
        F.count_distinct("user_id").alias("wau")
    )
    return (
        dau.join(wau, dau["day"] == wau["report_day"])
        .select(
            "day", "dau", "wau",
            F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
        )
    )


EVENT_DAU_WAU_SQL = f"""
WITH user_days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
dau AS (SELECT day, count(*) AS dau FROM user_days GROUP BY 1),
expanded AS (
  SELECT user_id, day + CAST(o.o AS INTEGER) AS report_day
  FROM user_days
  CROSS JOIN (SELECT unnest(range(0, {WAU_DAYS})) AS o) o
),
wau AS (SELECT report_day, count(DISTINCT user_id) AS wau
        FROM expanded GROUP BY 1)
SELECT d.day, d.dau, w.wau, round(d.dau / w.wau, 6) AS stickiness
FROM dau d JOIN wau w ON w.report_day = d.day
"""


# ---- event-type transition mining (markov / clickstream analysis) ----------


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order transition matrix of the event stream: for each
    (event_type -> next event_type) step within a user's time-ordered
    sequence, the step count and its share of all steps -- the
    clickstream/markov primitive behind "what do users do after X".

    Plan shape: one shuffle on user_id for the lead() window (sequence
    derivation is inherently per-user and the per-user partition is
    bounded), then a (from, to) count agg whose key space is
    |event_types|^2 -- tiny, map-side combinable, and the total for the
    share is a broadcast scalar. Deterministic: the sequence order is
    (ts, event_id), total within ties."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    steps = (
        e.select("user_id", "event_type", F.lead("event_type").over(w).alias("nxt"))
        .filter(F.col("nxt").isNotNull())
    )
    counts = steps.groupBy(
        F.col("event_type").alias("from_type"), F.col("nxt").alias("to_type")
    ).agg(F.count("*").alias("n_steps"))
    total = counts.agg(F.sum("n_steps").alias("total_steps"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "from_type", "to_type", "n_steps",
            F.round(F.col("n_steps") / F.col("total_steps"), 6).alias("share"),
        )
    )


EVENT_TRANSITIONS_SQL = """
WITH steps AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC) AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, count(*) AS n_steps
  FROM steps WHERE to_type IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT sum(n_steps) AS total_steps FROM counts)
SELECT from_type, to_type, n_steps,
       round(n_steps / total_steps, 6) AS share
FROM counts CROSS JOIN tot
"""


# ---- calendar densification + LOCF -----------------------------------------

def q_event_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled per-type daily series: every calendar day in each
    event_type's [first, last] range gets a row — days with no events
    carry ``n_events = 0``, ``total_value = NULL``, and a
    last-observation-carried-forward ``filled_total`` (the standard
    time-series densification before charting/anomaly models; the
    'growth rates' hook family, reference README.md:167).

    Scale shape: the fact table aggregates ONCE to (type, day) — after
    that everything runs on the dimension-sized daily grid (types x
    days): the calendar explode is per-type ``sequence()``, the grid
    join and the LOCF window never touch event rows. No global sort,
    no event-row explode."""
    e = _events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    daily = e.groupBy("event_type", "day").agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("total_value"),
    )
    bounds = daily.groupBy("event_type").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = bounds.select(
        "event_type",
        F.explode(F.sequence("d0", "d1")).alias("day"),
    )
    filled = (
        grid.join(daily, ["event_type", "day"], "left")
        .withColumn("n_events",
                    F.coalesce("n_events", F.lit(0)).cast("long"))
    )
    w = (
        Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return filled.select(
        "event_type", "day", "n_events", "total_value",
        F.last("total_value", ignorenulls=True).over(w)
        .alias("filled_total"),
    )


EVENT_GAP_FILL_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         count(*) AS n_events, sum(value) AS total_value
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
),
grid AS (
  SELECT b.event_type, CAST(u.d AS DATE) AS day
  FROM bounds b,
       unnest(generate_series(CAST(b.d0 AS TIMESTAMP),
                              CAST(b.d1 AS TIMESTAMP),
                              INTERVAL 1 DAY)) AS u(d)
)
SELECT g.event_type, g.day,
       CAST(coalesce(d.n_events, 0) AS BIGINT) AS n_events,
       d.total_value,
       last_value(d.total_value IGNORE NULLS) OVER (
         PARTITION BY g.event_type ORDER BY g.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS filled_total
FROM grid g LEFT JOIN daily d
  ON g.event_type = d.event_type AND g.day = d.day
"""


# ---- SCD2 validity intervals (gaps-and-islands) ----------------------------

def q_event_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 state history per user: consecutive same-type event runs
    collapse into validity intervals [valid_from, valid_to) with
    ``valid_to`` NULL on the current state — the slowly-changing-
    dimension build every warehouse derives from an event/change feed.
    Classic gaps-and-islands: a change flag via ``lag``, a running sum as
    the island id, one aggregate per island, ``lead`` for the interval
    end.
    All three windows share ONE user_id partitioning -- a single
    shuffle at any scale; per-user window width is the user's event
    count, never the corpus."""
    e = _events(spark, sf_dir).select("user_id", "event_type", "ts", "event_id")
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w = Window.partitionBy("user_id").orderBy(*order)
    flagged = e.withColumn(
        "chg",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "island",
        F.sum("chg").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    runs = flagged.groupBy("user_id", "island").agg(
        F.first("event_type").alias("state"),
        F.min("ts").alias("valid_from"),
        F.count("*").alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("island")
    return runs.select(
        "user_id", "state", "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_events",
    )


EVENT_SCD2_SQL = """
WITH flagged AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER w IS NULL
                   OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
islands AS (
  SELECT user_id, event_type, ts,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM flagged
),
runs AS (
  SELECT user_id, island, min(event_type) AS state,
         min(ts) AS valid_from, count(*) AS n_events
  FROM islands GROUP BY 1, 2
)
SELECT user_id, state, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY island)
         AS valid_to,
       CAST(n_events AS BIGINT) AS n_events
FROM runs
"""


# ---- KMV distinct sketch (oracle-exact approximate counting) ---------------

# sketch size: estimate stderr ~ 1/sqrt(k-2) ~ 12.7%; raise k for
# tighter estimates (cost is k rows per group, nothing else)
KMV_K = 64
# md5-hex prefix length mapped to a fraction: 12 nibbles = 48 bits,
# exactly representable in a double in BOTH engines
KMV_HEX = 12


def kmv_frac_col(col: str = "h"):
    """The md5-hex column mapped to a [0,1) fraction — the sketch's
    hash-value arithmetic, shared by every KMV consumer (distinct
    estimate, overlap algebra, streaming estimate) so the three can
    never drift apart. ``_KMV_FRAC_SQL`` below is its oracle twin."""
    return (
        F.conv(F.substring(col, 1, KMV_HEX), 16, 10).cast("double")
        / F.lit(float(16 ** KMV_HEX))
    )


def kmv_k_smallest(h: DataFrame, group_cols: list[str],
                   k: int = KMV_K) -> DataFrame:
    """k smallest DISTINCT ``h`` values per group, ranked (``rk``
    column retained) — the sketch builder shared by the batch queries.
    Two-phase pruning: phase 1 ranks
    within (group, input partition) and discards past rank k BEFORE
    the group-keyed exchange, so no window partition ever holds a
    group's full distinct-hash set."""
    d = h.select(*group_cols, "h").distinct()
    local = d.withColumn("pid", F.spark_partition_id())
    w_local = Window.partitionBy(*group_cols, "pid").orderBy(
        F.col("h").asc()
    )
    survivors = (
        local.withColumn("lrk", F.row_number().over(w_local))
        .filter(F.col("lrk") <= k)
        .drop("pid", "lrk")
    )
    w = Window.partitionBy(*group_cols).orderBy(F.col("h").asc())
    return (
        survivors.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


# oracle twin of kmv_frac_col: duckdb hex-prefix -> [0,1) fraction
_KMV_FRAC_SQL = hex_prefix_frac_sql(KMV_HEX)


def q_event_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per event_type via a K-Minimum-Values
    sketch — the mergeable-sketch counting family (HLL's cousin) with a
    twist the native ``approx_count_distinct`` can't offer: the sketch
    arithmetic here is DETERMINISTIC AND ENGINE-PORTABLE (md5-derived
    hash fractions, estimate = (k-1)/v_k where v_k is the k-th smallest
    distinct hash), so the DuckDB oracle reproduces the estimate
    BIT-EXACTLY — approximate in statistics, exact in verification.
    Groups with fewer than {KMV_K} distinct users report exactly (the
    sketch holds every hash). ``n_exact`` and ``rel_err`` ride along as
    the built-in accuracy audit.

    Determinism: md5 is stable everywhere; the {KMV_HEX}-nibble prefix
    is an exact 48-bit integer in a double; ties on equal hashes cannot
    occur below md5-collision scale, so the k-th smallest is unique.

    Scale shape: one distinct aggregation (the honest cost of any
    distinct-count audit; the pure-sketch production form folds hashes
    map-side and shuffles only k values per group), then the SAME
    two-phase k-smallest pruning as the embedding rankers — phase 1
    ranks within (event_type, input partition) and discards past rank
    {KMV_K} before the type-keyed exchange, so no window partition ever
    holds a type's full distinct-hash set. At 100 TB swap the audit's
    distinct agg for the map-side fold; the estimator is unchanged."""
    e = _events(spark, sf_dir)
    d = e.select("event_type", "user_id").distinct()
    h = d.select(
        "event_type",
        F.md5(F.col("user_id").cast("string")).alias("h"),
    )
    cnt = h.groupBy("event_type").agg(F.count("*").alias("n_exact"))
    topk = kmv_k_smallest(h, ["event_type"])
    kth = topk.groupBy("event_type").agg(
        F.max(F.when(F.col("rk") == KMV_K, kmv_frac_col())).alias("v_k")
    )
    est = F.when(
        F.col("n_exact") >= KMV_K,
        F.round(F.lit(float(KMV_K - 1)) / F.col("v_k"), 4),
    ).otherwise(F.col("n_exact").cast("double"))
    return (
        cnt.join(kth, "event_type")
        .select(
            "event_type", "n_exact",
            est.alias("kmv_estimate"),
            F.round(
                F.abs(est - F.col("n_exact")) / F.col("n_exact"), 6
            ).alias("rel_err"),
        )
    )


EVENT_KMV_DISTINCT_SQL = f"""
WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
h AS (
  SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM d
),
cnt AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact
  FROM h GROUP BY 1
),
rk AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h ASC) AS rk
  FROM h
),
kth AS (
  SELECT event_type, {_KMV_FRAC_SQL} AS v_k
  FROM rk WHERE rk = {KMV_K}
),
est AS (
  SELECT c.event_type, c.n_exact,
         CASE WHEN c.n_exact >= {KMV_K}
              THEN round({KMV_K - 1} / k.v_k, 4)
              ELSE CAST(c.n_exact AS DOUBLE) END AS kmv_estimate
  FROM cnt c LEFT JOIN kth k USING (event_type)
)
SELECT event_type, n_exact, kmv_estimate,
       round(abs(kmv_estimate - n_exact) / n_exact, 6) AS rel_err
FROM est
"""


# ---- HyperLogLog distinct (register-array sketch, portable arithmetic) ------

# register-index bits: m = 2^P registers per group. stderr ~ 1.04/sqrt(m)
# ~ 6.5% at P=8 -- denser than KMV per byte (m 6-bit registers vs k
# 48-bit hashes), the reason HLL is the industry default.
HLL_P = 8
HLL_M = 1 << HLL_P
# bias constant for m >= 128 (Flajolet et al. '07, Fig. 3)
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)
# hash bits left after the register index is consumed (48-bit portable
# md5 prefix, see KMV_HEX); an all-zero remainder reports rho = width+1
_HLL_W_BITS = 4 * KMV_HEX - HLL_P


def hll_registers(h: DataFrame, group_cols: list[str]) -> DataFrame:
    """(group..., h) md5-hex rows -> one max-rho register per (group,
    bucket) -- the HLL state fold shared by the distinct-count and
    sliding-window queries so the two can never drift. ``rho`` uses
    the TRAILING-zero rank of the remainder bits (w & -w isolates the
    lowest set bit, an exact power of two whose log2 is exact in a
    double), which is distributed identically to the classic
    leading-zero rank (P[rho = j] = 2^-j for a uniform hash) and --
    unlike a leading-zero count -- needs no float log of a non-power
    on EITHER engine, keeping Spark and DuckDB bit-identical. The
    groupBy is a max-monoid fold: map-side combine caps the exchange
    at m rows per group per input partition, and the stored state at
    m rows per group, ever."""
    return (
        h.select(
            *group_cols,
            F.conv(F.substring("h", 1, KMV_HEX), 16, 10)
            .cast("long").alias("h48"),
        )
        .select(
            *group_cols,
            F.col("h48").bitwiseAND(F.lit(HLL_M - 1)).alias("bucket"),
            F.floor(F.col("h48") / HLL_M).cast("long").alias("w"),
        )
        .withColumn(
            "rho",
            F.when(F.col("w") == 0, F.lit(_HLL_W_BITS + 1)).otherwise(
                F.round(F.log2(F.expr("w & -w"))).cast("int") + 1
            ),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("mreg"))
    )


def hll_estimate_col() -> Column:
    """Estimate from per-group register aggregates ``z_present`` (sum of
    2^-mreg over populated registers) and ``n_buckets`` (populated
    register count): the raw harmonic-mean estimate with the standard
    small-range LinearCounting correction. Shared by the distinct-count
    and sliding-window queries."""
    z = F.col("z_present") + (HLL_M - F.col("n_buckets"))
    raw = F.lit(HLL_ALPHA * HLL_M * HLL_M) / z
    v = F.lit(HLL_M) - F.col("n_buckets")
    return F.round(
        F.when(
            (raw <= 2.5 * HLL_M) & (v > 0),
            F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v),
        ).otherwise(raw),
        4,
    )


def q_event_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per event_type via HYPERLOGLOG -- the
    register-array half of the counting-sketch family (KMV's sibling,
    and the algorithm behind every production approx_count_distinct).
    Like the KMV twin, the arithmetic is DETERMINISTIC AND
    ENGINE-PORTABLE: register index = low {HLL_P} bits of the 48-bit
    md5 prefix, rho = trailing-zero rank of the remainder, estimate =
    alpha * m^2 / sum(2^-M_j) with the standard LinearCounting
    small-range correction -- every step exact in a double on both
    engines, so the DuckDB oracle reproduces the ESTIMATE bit-exactly
    (approximate in statistics, exact in verification). ``n_exact``
    and ``rel_err`` ride along as the accuracy audit.

    Scale shape: the register fold is a max-monoid groupBy (map-side
    combined, <= m = {HLL_M} rows per group ever -- TRUE bounded state,
    unlike the audit's distinct agg, which a 100 TB deployment drops);
    merging two sketches is elementwise register max, a semilattice,
    so a replayed merge leaves the sketch unchanged."""
    e = _events(spark, sf_dir)
    d = e.select("event_type", "user_id").distinct()
    h = d.select(
        "event_type", F.md5(F.col("user_id").cast("string")).alias("h")
    )
    cnt = h.groupBy("event_type").agg(F.count("*").alias("n_exact"))
    z = hll_registers(h, ["event_type"]).groupBy("event_type").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("mreg"))).alias("z_present"),
        F.count(F.lit(1)).alias("n_buckets"),
    )
    est = hll_estimate_col()
    return (
        cnt.join(z, "event_type")
        .select(
            "event_type", "n_exact",
            est.alias("hll_estimate"),
            F.round(
                F.abs(est - F.col("n_exact")) / F.col("n_exact"), 6
            ).alias("rel_err"),
        )
    )


_HLL_H48_SQL = hex_prefix_bigint_sql(KMV_HEX)

# the estimate arithmetic over a CTE ``z(... z_present, n_buckets)`` --
# shared by the per-type and sliding-window HLL oracles so the formula
# (raw harmonic mean + LinearCounting small-range branch) cannot drift
_HLL_EST_CASE_SQL = f"""round(CASE WHEN {HLL_ALPHA * HLL_M * HLL_M!r}
                         / (z.z_present + ({HLL_M} - z.n_buckets))
                         <= {2.5 * HLL_M}
                     AND z.n_buckets < {HLL_M}
                    THEN {HLL_M} * ln({HLL_M} * 1.0
                                      / ({HLL_M} - z.n_buckets))
                    ELSE {HLL_ALPHA * HLL_M * HLL_M!r}
                         / (z.z_present + ({HLL_M} - z.n_buckets))
               END, 4)"""

# the register fold over a CTE ``hi(<group>, h48)`` -- the bucket/rho
# arithmetic identical to Spark's hll_registers, shared by both oracles
_HLL_REG_SQL = f"""h48 & {HLL_M - 1} AS bucket,
         max(CASE WHEN h48 // {HLL_M} = 0 THEN {_HLL_W_BITS + 1}
                  ELSE CAST(round(log2(
                         (h48 // {HLL_M}) & (-(h48 // {HLL_M})))) AS INT) + 1
             END) AS mreg"""

EVENT_HLL_DISTINCT_SQL = f"""
WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
hx AS (
  SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM d
),
hi AS (SELECT event_type, {_HLL_H48_SQL} AS h48 FROM hx),
cnt AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact
  FROM hi GROUP BY 1
),
reg AS (
  -- register fold: bucket = low {HLL_P} bits, rho = trailing-zero rank
  -- of the remainder (w & -w is an exact power of two; its log2 is
  -- exact) -- identical arithmetic to Spark's hll_registers
  SELECT event_type, {_HLL_REG_SQL}
  FROM hi GROUP BY 1, 2
),
z AS (
  SELECT event_type, sum(power(2.0, -mreg)) AS z_present,
         count(*) AS n_buckets
  FROM reg GROUP BY 1
),
est AS (
  SELECT c.event_type, c.n_exact,
         {_HLL_EST_CASE_SQL} AS hll_estimate
  FROM cnt c JOIN z USING (event_type)
)
SELECT event_type, n_exact, hll_estimate,
       round(abs(hll_estimate - n_exact) / n_exact, 6) AS rel_err
FROM est
"""


def q_event_hll_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-{WAU_DAYS}-day approximate distinct users per day from
    MERGED DAILY HLL REGISTERS -- the production pattern that is the
    reason register sketches exist: fold each day's users into one
    m={HLL_M}-register sketch ONCE, then answer ANY window by
    elementwise register max over the member days' sketches -- the
    events are never re-scanned, and the same daily sketches serve
    7-day, 30-day, or arbitrary ad-hoc ranges. Contrast
    ``q_event_dau_wau``: its exact rolling distinct must expand every
    (user, day) membership per report day; here the window merge
    touches <= {WAU_DAYS} x {HLL_M} register rows per report day no
    matter how many users each day held. The exact window distinct
    (the dau_wau expansion) rides along as the audit with rel_err.

    Determinism/portability: identical register arithmetic to
    ``q_event_hll_distinct`` (shared :func:`hll_registers` +
    :func:`hll_estimate_col`); the merge is the same max-semilattice,
    applied across TIME -- the DuckDB oracle reproduces every estimate
    bit-exactly.

    Scale shape: the daily fold is a max-monoid groupBy bounded at
    m rows per day (map-side combined); the window expansion explodes
    the DAILY REGISTER table (days x m rows -- metadata-sized), never
    the event stream; report days are restricted to active days by a
    broadcastable semi-join."""
    e = _events(spark, sf_dir)
    ud = e.select(F.to_date("ts").alias("day"), "user_id").distinct()
    h = ud.select("day", F.md5(F.col("user_id").cast("string")).alias("h"))
    daily = hll_registers(h, ["day"])
    merged = (
        daily.select(
            F.explode(
                F.sequence(F.col("day"), F.date_add(F.col("day"),
                                                    WAU_DAYS - 1))
            ).alias("report_day"),
            "bucket", "mreg",
        )
        .groupBy("report_day", "bucket")
        .agg(F.max("mreg").alias("mreg"))
    )
    z = merged.groupBy("report_day").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("mreg"))).alias("z_present"),
        F.count(F.lit(1)).alias("n_buckets"),
    )
    exact = (
        ud.select(
            "user_id",
            F.explode(
                F.sequence(F.col("day"), F.date_add(F.col("day"),
                                                    WAU_DAYS - 1))
            ).alias("report_day"),
        )
        .groupBy("report_day")
        .agg(F.count_distinct("user_id").alias("n_exact"))
    )
    days = ud.select(F.col("day").alias("report_day")).distinct()
    est = hll_estimate_col()
    return (
        exact.join(z, "report_day")
        .join(F.broadcast(days), "report_day", "left_semi")
        .select(
            F.col("report_day").alias("day"),
            "n_exact",
            est.alias("hll_estimate"),
            F.round(
                F.abs(est - F.col("n_exact")) / F.col("n_exact"), 6
            ).alias("rel_err"),
        )
    )


EVENT_HLL_SLIDING_SQL = f"""
WITH ud AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
hx AS (SELECT day, md5(CAST(user_id AS VARCHAR)) AS h FROM ud),
hi AS (SELECT day, {_HLL_H48_SQL} AS h48 FROM hx),
reg AS (
  SELECT day, {_HLL_REG_SQL}
  FROM hi GROUP BY 1, 2
),
merged AS (
  SELECT day + CAST(o.o AS INTEGER) AS report_day, bucket,
         max(mreg) AS mreg
  FROM reg CROSS JOIN (SELECT unnest(range(0, {WAU_DAYS})) AS o) o
  GROUP BY 1, 2
),
z AS (
  SELECT report_day, sum(power(2.0, -mreg)) AS z_present,
         count(*) AS n_buckets
  FROM merged GROUP BY 1
),
exact AS (
  SELECT report_day, count(DISTINCT user_id) AS n_exact FROM (
    SELECT user_id, day + CAST(o.o AS INTEGER) AS report_day
    FROM ud CROSS JOIN (SELECT unnest(range(0, {WAU_DAYS})) AS o) o
  ) GROUP BY 1
),
est AS (
  SELECT x.report_day, x.n_exact,
         {_HLL_EST_CASE_SQL} AS hll_estimate
  FROM exact x JOIN z USING (report_day)
  WHERE x.report_day IN (SELECT DISTINCT day FROM ud)
)
SELECT report_day AS day, CAST(n_exact AS BIGINT) AS n_exact,
       hll_estimate,
       round(abs(hll_estimate - n_exact) / n_exact, 6) AS rel_err
FROM est
"""


# ---- Count-Min heavy hitters (frequency-estimation sketch) ------------------

# depth (independent hash rows) x width (counters per row): estimate
# error <= 2N/w with probability 1 - (1/2)^d over the hash draw
CM_D = 4
CM_W = 128
CM_TOPK = 20


def cm_with_cells(df: DataFrame, item_col: str = "user_id") -> DataFrame:
    """Append the {CM_D} (j, pos) Count-Min cell coordinates of
    ``item_col`` to every row -- the sketch's hash arithmetic, shared
    by the counter build AND the estimate probe of both Count-Min
    queries so they can never drift. ``_CM_POS_SQL`` below is its
    oracle twin."""
    return (
        df.withColumn(
            "j", F.explode(F.array(*[F.lit(i) for i in range(CM_D)]))
        )
        .withColumn(
            "h",
            F.md5(F.concat_ws("_", F.lit("cm"), F.col("j"),
                              F.col(item_col).cast("string"))),
        )
        .withColumn(
            "pos",
            F.pmod(
                F.conv(F.substring("h", 1, KMV_HEX), 16, 10).cast("long"),
                F.lit(CM_W),
            ),
        )
    )


def q_event_cm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type HEAVY HITTERS via a COUNT-MIN sketch -- the
    frequency-estimation member of the sketch family (distinct: KMV /
    HLL; quantiles: histogram; membership: Bloom; set algebra: theta;
    frequency: THIS). Every event increments {CM_D} counters (one per
    independent md5-derived hash row); a user's estimate is the MIN of
    its {CM_D} cells. Count-Min's signature guarantee is ONE-SIDED
    error: collisions only ADD, so cm_estimate >= n_exact ALWAYS (the
    unit test pins it), and the top-{CM_TOPK} by estimate is a superset
    -biased ranking of the true heavy hitters. The exact counts ride
    along as the audit with ``over`` = the collision inflation.

    Deterministic and engine-portable like the whole family: cell =
    48-bit md5 prefix of 'cm_<row>_<user>' mod {CM_W}, counters are
    plain SUMs, min/rank tie-breaks are total -- the DuckDB oracle
    reproduces every estimate AND the ranking bit-exactly.

    Scale shape: the counter fold is an additive groupBy bounded at
    {CM_D}x{CM_W} cells per type (map-side combined: counters are a
    sum monoid). The candidate side here is the
    exact per-(type, user) audit agg (the honest small-SF cost); a
    100 TB deployment keeps only the sketch and probes it with an
    externally supplied candidate stream -- the estimate join below is
    unchanged."""
    e = _events(spark, sf_dir)
    pairs = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    counters = (
        cm_with_cells(e.select("event_type", "user_id"))
        .groupBy("event_type", "j", "pos")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    est = (
        cm_with_cells(pairs)
        .join(counters, ["event_type", "j", "pos"])
        .groupBy("event_type", "user_id", "n_exact")
        .agg(F.min("c").alias("cm_estimate"))
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("cm_estimate").desc(), F.col("user_id").asc()
    )
    return (
        est.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= CM_TOPK)
        .select(
            "event_type", "rank", "user_id",
            F.col("n_exact").cast("long").alias("n_exact"),
            F.col("cm_estimate").cast("long").alias("cm_estimate"),
            (F.col("cm_estimate") - F.col("n_exact"))
            .cast("long").alias("over"),
        )
    )


_CM_POS_SQL = hex_prefix_bigint_sql(KMV_HEX) + f" % {CM_W}"

EVENT_CM_HEAVY_HITTERS_SQL = f"""
WITH cells AS (
  SELECT event_type, user_id, j,
         md5('cm_' || j || '_' || CAST(user_id AS VARCHAR)) AS h
  FROM events CROSS JOIN range(0, {CM_D}) t(j)
),
cpos AS (SELECT event_type, user_id, j, {_CM_POS_SQL} AS pos FROM cells),
counters AS (
  SELECT event_type, j, pos, count(*) AS c
  FROM cpos GROUP BY 1, 2, 3
),
pairs AS (
  SELECT event_type, user_id, count(*) AS n_exact
  FROM events GROUP BY 1, 2
),
pcells AS (
  SELECT p.event_type, p.user_id, p.n_exact, t.j,
         md5('cm_' || t.j || '_' || CAST(p.user_id AS VARCHAR)) AS h
  FROM pairs p CROSS JOIN range(0, {CM_D}) t(j)
),
ppos AS (
  SELECT event_type, user_id, n_exact, j, {_CM_POS_SQL} AS pos FROM pcells
),
est AS (
  SELECT pp.event_type, pp.user_id, pp.n_exact,
         min(c.c) AS cm_estimate
  FROM ppos pp
  JOIN counters c
    ON c.event_type = pp.event_type AND c.j = pp.j AND c.pos = pp.pos
  GROUP BY 1, 2, 3
),
ranked AS (
  SELECT event_type, user_id, n_exact, cm_estimate,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY cm_estimate DESC, user_id ASC) AS rank
  FROM est
)
SELECT event_type, rank, user_id,
       CAST(n_exact AS BIGINT) AS n_exact,
       CAST(cm_estimate AS BIGINT) AS cm_estimate,
       CAST(cm_estimate - n_exact AS BIGINT) AS over
FROM ranked WHERE rank <= {CM_TOPK}
"""


# ---- AMS second-moment sketch (self-join size / skew estimate) ---------------

# estimator count and median-of-means group width: R/G groups of G
# estimators; within-group mean has relative stderr sqrt(2/G) ~ 50%,
# the median over R/G = 8 groups drives the failure probability down
# exponentially (the classic AMS '96 boosting). Cost is R signed
# counters per group key, nothing else.
AMS_R = 64
AMS_G = 8


def q_event_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type SECOND FREQUENCY MOMENT (F2 = sum over users of
    count^2 -- the self-join size, the canonical skew/repeat-rate
    statistic) via an ALON-MATIAS-SZEGEDY sketch: the MOMENTS member
    of the sketch family (distinct: KMV / HLL; quantiles: histogram;
    membership: Bloom; set algebra: theta; frequency: Count-Min;
    moments: THIS). Each of {AMS_R} estimators keeps one signed
    counter Z_j = sum over events of sign_j(user); E[Z_j^2] = F2
    exactly (cross terms vanish under 4-wise-independent signs). The
    estimate is the classic median-of-means boost: mean of Z^2 within
    each of {AMS_R // AMS_G} groups of {AMS_G}, median across groups
    (spelled as the mean of the two middle order statistics, total
    deterministic tie-break, so both engines agree bit-exactly).

    Deterministic and engine-portable like the whole family: the
    {AMS_R} signs come from the BITS of just TWO md5 hashes per user
    (sign_j = 1 - 2*(bit j%32 of the 48-bit prefix of
    'ams_<j div 32>_<user>') -- md5 treated as a random oracle, so
    distinct bits are as independent as distinct hashes, at 1/32 the
    hashing cost on BOTH engines); counters are plain SUMs of BIGINTs,
    squaring is IEEE-exact-rounded on the double cast in both engines
    -- the DuckDB oracle reproduces the ESTIMATE bit-exactly
    (approximate in statistics, exact in verification). ``f2_exact``
    rides along as the accuracy audit.

    Exactness precondition: gmean sums {AMS_G} z^2 doubles per group;
    bit-exact oracle equality holds while each group's z^2 sum stays
    below 2^53 (every partial is then an exact integer in a double and
    summation order cannot matter). That bounds corpus size at roughly
    sum(n_i)^2 < 2^53 per event_type -- ~9.5e7 rows per type, far past
    every tested scale. Beyond it the ESTIMATE is still statistically
    sound, but last-ulp ordering differences could flip the
    (gmean ASC, g ASC) median ranking between engines; a deployment at
    that scale should quantize gmean before ranking.

    Scale shape: the per-(type, user) pre-aggregation is one map-side
    combinable shuffle (shared with the exact audit); the signed fold
    is an additive groupBy bounded at {AMS_R} rows per type -- the
    same sum monoid as the histogram and Count-Min counters.
    The audit's exact F2 pays the honest (type, user) agg; a 100 TB
    deployment keeps only the R counters per type."""
    e = _events(spark, sf_dir)
    pairs = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    exact = pairs.groupBy("event_type").agg(
        F.sum(F.col("n") * F.col("n")).cast("long").alias("f2_exact")
    )
    def _h48(p: int):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("_", F.lit("ams"), F.lit(p),
                                      F.col("user_id").cast("string"))),
                    1, KMV_HEX,
                ),
                16, 10,
            ).cast("long")
        )

    signed = (
        pairs.select(
            "event_type", "n", _h48(0).alias("h0"), _h48(1).alias("h1")
        )
        .withColumn(
            "j", F.explode(F.array(*[F.lit(i) for i in range(AMS_R)]))
        )
        .withColumn(
            "sign",
            F.expr(
                "1 - 2 * cast(shiftright(if(j < 32, h0, h1), "
                "cast(j % 32 as int)) & 1 as int)"
            ),
        )
    )
    z = signed.groupBy("event_type", "j").agg(
        F.sum(F.col("n") * F.col("sign")).alias("z")
    )
    gm = (
        z.withColumn("g", (F.col("j") / AMS_G).cast("int"))
        .groupBy("event_type", "g")
        .agg(F.avg(F.col("z").cast("double") * F.col("z")).alias("gmean"))
    )
    n_groups = AMS_R // AMS_G
    w = Window.partitionBy("event_type").orderBy(
        F.col("gmean").asc(), F.col("g").asc()
    )
    med = (
        gm.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn").isin(n_groups // 2, n_groups // 2 + 1))
        .groupBy("event_type")
        .agg(F.round(F.avg("gmean"), 4).alias("ams_estimate"))
    )
    return exact.join(med, "event_type").select(
        "event_type", "f2_exact", "ams_estimate",
        F.round(
            F.abs(F.col("ams_estimate") - F.col("f2_exact"))
            / F.col("f2_exact"), 6
        ).alias("rel_err"),
    )


EVENT_AMS_F2_SQL = f"""
WITH pairs AS (
  SELECT event_type, user_id, count(*) AS n
  FROM events GROUP BY 1, 2
),
exact AS (
  SELECT event_type, CAST(sum(n * n) AS BIGINT) AS f2_exact
  FROM pairs GROUP BY 1
),
hashed AS (
  SELECT event_type, n,
         {hex_prefix_bigint_sql(KMV_HEX, "hx0")} AS h0,
         {hex_prefix_bigint_sql(KMV_HEX, "hx1")} AS h1
  FROM (
    SELECT event_type, n,
           md5('ams_0_' || CAST(user_id AS VARCHAR)) AS hx0,
           md5('ams_1_' || CAST(user_id AS VARCHAR)) AS hx1
    FROM pairs
  )
),
signed AS (
  SELECT event_type, n, t.j,
         1 - 2 * (((CASE WHEN t.j < 32 THEN h0 ELSE h1 END)
                   >> CAST(t.j % 32 AS INTEGER)) & 1) AS sign
  FROM hashed CROSS JOIN range(0, {AMS_R}) t(j)
),
z AS (
  SELECT event_type, j, sum(n * sign) AS z
  FROM signed GROUP BY 1, 2
),
gm AS (
  SELECT event_type, CAST(j // {AMS_G} AS INT) AS g,
         avg(CAST(z AS DOUBLE) * z) AS gmean
  FROM z GROUP BY 1, 2
),
ranked AS (
  SELECT event_type, gmean,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY gmean ASC, g ASC) AS rn
  FROM gm
),
med AS (
  SELECT event_type, round(avg(gmean), 4) AS ams_estimate
  FROM ranked
  WHERE rn IN ({AMS_R // AMS_G // 2}, {AMS_R // AMS_G // 2 + 1})
  GROUP BY 1
)
SELECT e.event_type, e.f2_exact, m.ams_estimate,
       round(abs(m.ams_estimate - e.f2_exact) / e.f2_exact, 6) AS rel_err
FROM exact e JOIN med m USING (event_type)
"""


def q_event_cm_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-{WAU_DAYS}-day HEAVY HITTERS per day from SUMMED DAILY
    Count-Min counters -- the temporal twin of ``event_hll_sliding``
    and the algebraic counterpoint: HLL registers merge across days by
    MAX (semilattice, idempotent), Count-Min counters merge by SUM
    (monoid -- each day folded exactly once), and either way the window
    answer reads only the days x {CM_D} x {CM_W} counter table, never
    the event stream. Per report day the top-{CM_TOPK} users by
    estimated window frequency, with the one-sided guarantee intact
    (summing per-day overcounts only adds: cm_estimate >= n_exact for
    every ranked row). The exact window counts ride along as the audit.

    Scale shape: the daily counter fold is map-side combinable and
    bounded at {CM_D}x{CM_W} cells per day; the window merge explodes
    the COUNTER table (days x d x w rows -- metadata-sized); the
    candidate audit expansion is bounded by distinct (day, user) x
    {WAU_DAYS}, the dau_wau bound. Determinism: the shared
    :func:`cm_with_cells` arithmetic, total (estimate DESC, user ASC)
    rank order -- the DuckDB oracle reproduces estimates AND ranking
    bit-exactly."""
    e = _events(spark, sf_dir)
    ed = e.select(F.to_date("ts").alias("day"), "user_id")
    win = F.explode(
        F.sequence(F.col("day"), F.date_add(F.col("day"), WAU_DAYS - 1))
    ).alias("report_day")
    daily_counters = (
        cm_with_cells(ed)
        .groupBy("day", "j", "pos")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    win_counters = (
        daily_counters.select(win, "j", "pos", "c")
        .groupBy("report_day", "j", "pos")
        .agg(F.sum("c").alias("c"))
    )
    pd_ = ed.groupBy("day", "user_id").agg(F.count(F.lit(1)).alias("n"))
    exact = (
        pd_.select(win, "user_id", "n")
        .groupBy("report_day", "user_id")
        .agg(F.sum("n").cast("long").alias("n_exact"))
    )
    est = (
        cm_with_cells(exact)
        .join(win_counters, ["report_day", "j", "pos"])
        .groupBy("report_day", "user_id", "n_exact")
        .agg(F.min("c").cast("long").alias("cm_estimate"))
    )
    days = ed.select(F.col("day").alias("report_day")).distinct()
    w = Window.partitionBy("report_day").orderBy(
        F.col("cm_estimate").desc(), F.col("user_id").asc()
    )
    return (
        est.join(F.broadcast(days), "report_day", "left_semi")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= CM_TOPK)
        .select(
            F.col("report_day").alias("day"), "rank", "user_id",
            "n_exact", "cm_estimate",
            (F.col("cm_estimate") - F.col("n_exact"))
            .cast("long").alias("over"),
        )
    )


EVENT_CM_SLIDING_SQL = f"""
WITH ed AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
cells AS (
  SELECT day, user_id, j,
         md5('cm_' || j || '_' || CAST(user_id AS VARCHAR)) AS h
  FROM ed CROSS JOIN range(0, {CM_D}) t(j)
),
cpos AS (SELECT day, j, {_CM_POS_SQL} AS pos FROM cells),
daily AS (
  SELECT day, j, pos, count(*) AS c FROM cpos GROUP BY 1, 2, 3
),
winc AS (
  SELECT day + CAST(o.o AS INTEGER) AS report_day, j, pos, sum(c) AS c
  FROM daily CROSS JOIN (SELECT unnest(range(0, {WAU_DAYS})) AS o) o
  GROUP BY 1, 2, 3
),
pd AS (
  SELECT day, user_id, count(*) AS n FROM ed GROUP BY 1, 2
),
exact AS (
  SELECT day + CAST(o.o AS INTEGER) AS report_day, user_id,
         CAST(sum(n) AS BIGINT) AS n_exact
  FROM pd CROSS JOIN (SELECT unnest(range(0, {WAU_DAYS})) AS o) o
  GROUP BY 1, 2
),
pcells AS (
  SELECT x.report_day, x.user_id, x.n_exact, t.j,
         md5('cm_' || t.j || '_' || CAST(x.user_id AS VARCHAR)) AS h
  FROM exact x CROSS JOIN range(0, {CM_D}) t(j)
),
ppos AS (
  SELECT report_day, user_id, n_exact, j, {_CM_POS_SQL} AS pos FROM pcells
),
est AS (
  SELECT pp.report_day, pp.user_id, pp.n_exact,
         CAST(min(w.c) AS BIGINT) AS cm_estimate
  FROM ppos pp
  JOIN winc w ON w.report_day = pp.report_day
             AND w.j = pp.j AND w.pos = pp.pos
  WHERE pp.report_day IN (SELECT DISTINCT day FROM ed)
  GROUP BY 1, 2, 3
),
ranked AS (
  SELECT report_day, user_id, n_exact, cm_estimate,
         ROW_NUMBER() OVER (PARTITION BY report_day
                            ORDER BY cm_estimate DESC, user_id ASC) AS rank
  FROM est
)
SELECT report_day AS day, rank, user_id, n_exact, cm_estimate,
       CAST(cm_estimate - n_exact AS BIGINT) AS over
FROM ranked WHERE rank <= {CM_TOPK}
"""


# ---- KMV sketch set algebra: intersection estimate --------------------------


def q_event_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimates for every event_type pair from the
    SAME KMV/theta sketches ``event_kmv_distinct`` builds -- the sketch
    set-ALGEBRA half of the family (Theta-sketch intersection): sketch
    = hashes strictly below theta (theta = the k-th smallest hash
    fraction, or 1.0 when the type holds fewer than k distinct users,
    in which case the sketch is exact). A hash shared by two sketches
    is below BOTH thetas, hence below theta_ab = min(theta_a, theta_b),
    so |A intersect B| ~= |shared sketch hashes| / theta_ab -- computed
    from k-sized sketches alone, never from the full user sets. The
    exact intersection rides along as the audit (that side pays a real
    user_id self-join; the production form keeps only the sketches).

    Scale shape: sketches are k rows per type (two-phase k-smallest
    pruning, same as event_kmv_distinct); the sketch-sketch join and
    the theta table are sketch-sized, so estimating ALL T^2/2 pair
    overlaps costs O(T * k) state -- the whole point of mergeable
    sketches at 100 TB. Determinism: md5 everywhere, strict <
    comparisons, no ties below md5-collision scale; the DuckDB oracle
    reproduces every estimate bit-exactly."""
    e = _events(spark, sf_dir)
    d = e.select("event_type", "user_id").distinct()
    h = d.select(
        "event_type", F.md5(F.col("user_id").cast("string")).alias("h")
    )
    n_by_type = h.groupBy("event_type").agg(F.count("*").alias("n"))
    ranked = kmv_k_smallest(h, ["event_type"]).withColumn(
        "frac", kmv_frac_col()
    )
    theta = (
        ranked.groupBy("event_type")
        .agg(F.max(F.when(F.col("rk") == KMV_K, F.col("frac"))).alias("v_k"))
        .join(n_by_type, "event_type")
        .select(
            "event_type",
            F.when(F.col("n") >= KMV_K, F.col("v_k"))
            .otherwise(F.lit(1.0))
            .alias("theta"),
        )
    )
    sk = ranked.join(F.broadcast(theta), "event_type").filter(
        F.col("frac") < F.col("theta")
    )
    shared = (
        sk.select(F.col("event_type").alias("type_a"), "h",
                  F.col("theta").alias("theta_a"))
        .join(
            sk.select(F.col("event_type").alias("type_b"), "h",
                      F.col("theta").alias("theta_b")),
            "h",
        )
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count("*").alias("c"),
            F.least(F.min("theta_a"), F.min("theta_b")).alias("theta_ab"),
        )
    )
    exact = (
        d.select(F.col("event_type").alias("type_a"), "user_id")
        .join(d.select(F.col("event_type").alias("type_b"), "user_id"),
              "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_exact"))
    )
    spine = (
        n_by_type.select(F.col("event_type").alias("type_a"))
        .crossJoin(
            F.broadcast(n_by_type.select(F.col("event_type").alias("type_b")))
        )
        .filter(F.col("type_a") < F.col("type_b"))
    )
    est = F.round(
        F.coalesce(F.col("c"), F.lit(0)).cast("double")
        / F.coalesce(F.col("theta_ab"), F.lit(1.0)),
        4,
    )
    return (
        spine.join(exact, ["type_a", "type_b"], "left")
        .join(shared, ["type_a", "type_b"], "left")
        .select(
            "type_a", "type_b",
            F.coalesce(F.col("n_exact"), F.lit(0)).alias("n_exact"),
            est.alias("kmv_estimate"),
            F.round(
                F.abs(est - F.coalesce(F.col("n_exact"), F.lit(0)))
                / F.greatest(F.coalesce(F.col("n_exact"), F.lit(0)),
                             F.lit(1)),
                6,
            ).alias("rel_err"),
        )
    )


EVENT_KMV_OVERLAP_SQL = f"""
WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
h AS (SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM d),
n AS (SELECT event_type, count(*) AS n FROM h GROUP BY 1),
rk AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h ASC) AS rk
  FROM h
),
fr AS (
  SELECT event_type, h, rk, {_KMV_FRAC_SQL} AS frac
  FROM rk WHERE rk <= {KMV_K}
),
th AS (
  SELECT f.event_type,
         CASE WHEN any_value(n.n) >= {KMV_K}
              THEN max(CASE WHEN f.rk = {KMV_K} THEN f.frac END)
              ELSE 1.0 END AS theta
  FROM fr f JOIN n ON f.event_type = n.event_type
  GROUP BY f.event_type
),
sk AS (
  SELECT f.event_type, f.h, f.frac, t.theta
  FROM fr f JOIN th t USING (event_type)
  WHERE f.frac < t.theta
),
c AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         count(*) AS c, least(min(a.theta), min(b.theta)) AS theta_ab
  FROM sk a JOIN sk b ON a.h = b.h AND a.event_type < b.event_type
  GROUP BY 1, 2
),
x AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         count(*) AS n_exact
  FROM d a JOIN d b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
),
spine AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM n a JOIN n b ON a.event_type < b.event_type
),
est AS (
  SELECT p.type_a, p.type_b,
         CAST(coalesce(x.n_exact, 0) AS BIGINT) AS n_exact,
         round(CAST(coalesce(c.c, 0) AS DOUBLE)
               / coalesce(c.theta_ab, 1.0), 4) AS kmv_estimate
  FROM spine p
  LEFT JOIN x USING (type_a, type_b)
  LEFT JOIN c USING (type_a, type_b)
)
SELECT type_a, type_b, n_exact, kmv_estimate,
       round(abs(kmv_estimate - n_exact) / greatest(n_exact, 1), 6)
         AS rel_err
FROM est
"""


# ---- Bloom-filter semi-join (runtime-filter pruning, FP-audited) ------------

BLOOM_M = 4096  # bits
BLOOM_J = 3     # hash functions


def q_event_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter SEMI-JOIN REDUCTION with a built-in false-positive
    audit -- the manual, engine-portable form of the runtime filters
    Spark injects under ``spark.sql.optimizer.runtime.bloomFilter``:
    build a {BLOOM_M}-bit / {BLOOM_J}-hash Bloom set from the
    purchasing users (the selective build side), probe every
    (event_type, user) against it, and report per type how many users
    pass, how many truly purchased (exact semi-join, the audit side),
    and the false-positive rate among true negatives.

    Why this matters at 100 TB: a semi-join against a selective dim
    normally shuffles the FULL probe side on the join key; shipping a
    kilobyte-scale bit set to every task instead prunes the probe
    map-side, and rows that fail the filter never enter the exchange.
    The bit set here is a DataFrame of set bit positions (<= {BLOOM_M}
    rows) broadcast to the probe -- the same dataflow shape as the
    engine-internal filter, but with deterministic md5-derived
    positions both engines reproduce bit-exactly.

    A user passes iff all {BLOOM_J} positions are set; membership is
    checked by exploding the probe's positions against the broadcast
    bit table and requiring {BLOOM_J} DISTINCT probe indices to match
    (count of distinct i, not count of rows, so within-user position
    collisions cannot double-count). Build-side members always pass
    (Bloom filters have no false negatives -- asserted by the oracle
    since purchase rows must show fp impossible there)."""
    e = _events(spark, sf_dir)
    d = e.select("event_type", "user_id").distinct()
    build = (
        d.filter(F.col("event_type") == "purchase")
        .select("user_id").distinct()
    )
    idx = F.explode(F.array(*[F.lit(i) for i in range(1, BLOOM_J + 1)]))
    pos = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col("i"), F.col("user_id").cast("string")
                    )
                ),
                1, KMV_HEX,
            ),
            16, 10,
        ).cast("long")
        % BLOOM_M
    )
    bits = (
        build.select("user_id", idx.alias("i"))
        .select(pos.alias("pos"))
        .distinct()
    )
    probe = d.select("event_type", "user_id", idx.alias("i")).withColumn(
        "pos", pos
    )
    passed = (
        probe.join(F.broadcast(bits), "pos")
        .groupBy("event_type", "user_id")
        .agg(F.countDistinct("i").alias("nhit"))
        .filter(F.col("nhit") == BLOOM_J)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_pass"))
    )
    truth = (
        d.join(build, "user_id", "left_semi")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_true"))
    )
    totals = d.groupBy("event_type").agg(F.count("*").alias("n_users"))
    fp = F.coalesce(F.col("n_pass"), F.lit(0)) - F.coalesce(
        F.col("n_true"), F.lit(0)
    )
    neg = F.col("n_users") - F.coalesce(F.col("n_true"), F.lit(0))
    return (
        totals.join(passed, "event_type", "left")
        .join(truth, "event_type", "left")
        .select(
            "event_type",
            "n_users",
            F.coalesce(F.col("n_pass"), F.lit(0)).alias("n_pass"),
            F.coalesce(F.col("n_true"), F.lit(0)).alias("n_true"),
            fp.alias("n_false_pos"),
            F.round(
                fp / F.greatest(neg, F.lit(1)), 6
            ).alias("fp_rate"),
        )
    )


_BLOOM_POS_SQL = f"{hex_prefix_bigint_sql(KMV_HEX)} % {BLOOM_M}"

EVENT_BLOOM_SEMIJOIN_SQL = f"""
WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
build AS (
  SELECT DISTINCT user_id FROM d WHERE event_type = 'purchase'
),
bh AS (
  SELECT md5(concat(t.i, ':', CAST(b.user_id AS VARCHAR))) AS h
  FROM build b, range(1, {BLOOM_J + 1}) t(i)
),
bits AS (SELECT DISTINCT {_BLOOM_POS_SQL} AS pos FROM bh),
ph AS (
  SELECT d.event_type, d.user_id, t.i,
         md5(concat(t.i, ':', CAST(d.user_id AS VARCHAR))) AS h
  FROM d, range(1, {BLOOM_J + 1}) t(i)
),
pp AS (SELECT event_type, user_id, i, {_BLOOM_POS_SQL} AS pos FROM ph),
passed AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_pass
  FROM (
    SELECT p.event_type, p.user_id
    FROM pp p JOIN bits ON p.pos = bits.pos
    GROUP BY 1, 2
    HAVING count(DISTINCT p.i) = {BLOOM_J}
  ) GROUP BY 1
),
truth AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_true
  FROM d WHERE user_id IN (SELECT user_id FROM build)
  GROUP BY 1
),
totals AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
  FROM d GROUP BY 1
)
SELECT t.event_type, t.n_users,
       CAST(coalesce(p.n_pass, 0) AS BIGINT) AS n_pass,
       CAST(coalesce(x.n_true, 0) AS BIGINT) AS n_true,
       CAST(coalesce(p.n_pass, 0) - coalesce(x.n_true, 0) AS BIGINT)
         AS n_false_pos,
       round((coalesce(p.n_pass, 0) - coalesce(x.n_true, 0))
             / greatest(t.n_users - coalesce(x.n_true, 0), 1), 6)
         AS fp_rate
FROM totals t
LEFT JOIN passed p USING (event_type)
LEFT JOIN truth x USING (event_type)
"""


# ---- mergeable histogram quantiles (the 100 TB percentile shape) -----------

# fixed bin width: estimate error is bounded by one bin; values here
# span [0, ~500], so 0.25 gives <= 2000 bins per group
HIST_BIN_WIDTH = 0.25


def q_event_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95/p99 of value per event_type from a MERGEABLE fixed-width
    HISTOGRAM sketch -- the scale answer to percentiles that
    ``event_percentiles``'s docstring promises: exact ``percentile``
    must sort every group member through one partition chain, while the
    histogram folds map-side to (type, bin) counts and the shuffle
    carries AT MOST range/width rows per group regardless of event
    count. Estimates interpolate linearly inside the hit bin, so the
    error is bounded by one bin width -- a deterministic bound, unlike
    t-digest's probabilistic one, and (unlike ``approx_percentile``'s
    JVM-internal digest) the arithmetic is ENGINE-PORTABLE: the DuckDB
    oracle reproduces every estimate bit-exactly. ``*_exact`` and
    ``*_err`` ride along as the built-in accuracy audit (the audit side
    pays the exact sort; the production form is the histogram alone).

    Determinism: bin = floor(value / 0.25) is one IEEE double op in
    both engines; the cumulative window runs over bin-count-sized
    partitions (bounded by range/width, never by event count); the hit
    bin (prev < q*n <= cum) is unique because cum is strictly
    increasing over non-empty bins."""
    e = _events(spark, sf_dir)
    bins = e.groupBy(
        "event_type",
        F.floor(F.col("value") / HIST_BIN_WIDTH).alias("bin"),
    ).agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("bin")
    c = bins.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "prev", (F.col("cum") - F.col("cnt")).cast("double")
    )
    stats = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.expr("percentile(value, array(0.5D, 0.95D, 0.99D))").alias("p"),
    )
    j = c.join(stats.select("event_type", "n"), "event_type")
    ests = []
    for q, tag in ((0.5, "p50"), (0.95, "p95"), (0.99, "p99")):
        t = F.lit(q) * F.col("n")
        est = (
            F.col("bin") * HIST_BIN_WIDTH
            + HIST_BIN_WIDTH * (t - F.col("prev")) / F.col("cnt")
        )
        hit = (F.col("prev") < t) & (t <= F.col("cum"))
        ests.append(F.min(F.when(hit, est)).alias(f"{tag}_raw"))
    est_df = j.groupBy("event_type").agg(*ests)
    out = stats.join(est_df, "event_type")
    cols = ["event_type", F.col("n")]
    for i, tag in enumerate(("p50", "p95", "p99")):
        exact = F.col("p")[i]
        raw = F.col(f"{tag}_raw")
        cols += [
            F.round(exact, 6).alias(f"{tag}_exact"),
            F.round(raw, 6).alias(f"{tag}_est"),
            F.round(F.abs(raw - exact) / exact, 6).alias(f"{tag}_err"),
        ]
    return out.select(*cols)


EVENT_HISTOGRAM_QUANTILES_SQL = f"""
WITH b AS (
  SELECT event_type,
         CAST(floor(value / {HIST_BIN_WIDTH}) AS BIGINT) AS bin,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
),
c AS (
  SELECT event_type, bin, cnt,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum
  FROM b
),
c2 AS (SELECT *, CAST(cum - cnt AS DOUBLE) AS prev FROM c),
s AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         quantile_cont(value, 0.5) AS p50x,
         quantile_cont(value, 0.95) AS p95x,
         quantile_cont(value, 0.99) AS p99x
  FROM events GROUP BY 1
),
e AS (
  SELECT c2.event_type,
         min(CASE WHEN prev < 0.5 * n AND 0.5 * n <= cum
             THEN bin * {HIST_BIN_WIDTH}
                  + {HIST_BIN_WIDTH} * (0.5 * n - prev) / cnt END)
           AS p50_raw,
         min(CASE WHEN prev < 0.95 * n AND 0.95 * n <= cum
             THEN bin * {HIST_BIN_WIDTH}
                  + {HIST_BIN_WIDTH} * (0.95 * n - prev) / cnt END)
           AS p95_raw,
         min(CASE WHEN prev < 0.99 * n AND 0.99 * n <= cum
             THEN bin * {HIST_BIN_WIDTH}
                  + {HIST_BIN_WIDTH} * (0.99 * n - prev) / cnt END)
           AS p99_raw
  FROM c2 JOIN s USING (event_type) GROUP BY 1
)
SELECT s.event_type, n,
       round(p50x, 6) AS p50_exact, round(p50_raw, 6) AS p50_est,
       round(abs(p50_raw - p50x) / p50x, 6) AS p50_err,
       round(p95x, 6) AS p95_exact, round(p95_raw, 6) AS p95_est,
       round(abs(p95_raw - p95x) / p95x, 6) AS p95_err,
       round(p99x, 6) AS p99_exact, round(p99_raw, 6) AS p99_est,
       round(abs(p99_raw - p99x) / p99x, 6) AS p99_err
FROM s JOIN e ON s.event_type = e.event_type
"""


QUERIES = {
    "event_histogram_quantiles": q_event_histogram_quantiles,
    "event_kmv_distinct": q_event_kmv_distinct,
    "event_hll_distinct": q_event_hll_distinct,
    "event_hll_sliding": q_event_hll_sliding,
    "event_cm_heavy_hitters": q_event_cm_heavy_hitters,
    "event_cm_sliding": q_event_cm_sliding,
    "event_ams_f2": q_event_ams_f2,
    "event_kmv_overlap": q_event_kmv_overlap,
    "event_bloom_semijoin": q_event_bloom_semijoin,
    "event_gap_fill": q_event_gap_fill,
    "event_scd2": q_event_scd2,
    "event_window_agg": q_event_window_agg,
    "event_transitions": q_event_transitions,
    "event_dau_wau": q_event_dau_wau,
    "event_sliding_window": q_event_sliding_window,
    "event_sessionize": q_event_sessionize,
    "event_asof_join": q_event_asof_join,
    "event_rollup": q_event_rollup,
    "event_daily_growth": q_event_daily_growth,
    "event_topk_per_user": q_event_topk_per_user,
    "event_distinct_users": q_event_distinct_users,
    "event_interval_join": q_event_interval_join,
    "event_percentiles": q_event_percentiles,
    "event_cube": q_event_cube,
    "event_funnel": q_event_funnel,
    "event_retention": q_event_retention,
    "event_anomaly": q_event_anomaly,
}

ORACLES = {
    "event_histogram_quantiles": EVENT_HISTOGRAM_QUANTILES_SQL,
    "event_kmv_distinct": EVENT_KMV_DISTINCT_SQL,
    "event_hll_distinct": EVENT_HLL_DISTINCT_SQL,
    "event_hll_sliding": EVENT_HLL_SLIDING_SQL,
    "event_cm_heavy_hitters": EVENT_CM_HEAVY_HITTERS_SQL,
    "event_cm_sliding": EVENT_CM_SLIDING_SQL,
    "event_ams_f2": EVENT_AMS_F2_SQL,
    "event_kmv_overlap": EVENT_KMV_OVERLAP_SQL,
    "event_bloom_semijoin": EVENT_BLOOM_SEMIJOIN_SQL,
    "event_gap_fill": EVENT_GAP_FILL_SQL,
    "event_scd2": EVENT_SCD2_SQL,
    "event_transitions": EVENT_TRANSITIONS_SQL,
    "event_dau_wau": EVENT_DAU_WAU_SQL,
    "event_sliding_window": EVENT_SLIDING_WINDOW_SQL,
    "event_interval_join": EVENT_INTERVAL_JOIN_SQL,
    "event_percentiles": EVENT_PERCENTILES_SQL,
    "event_cube": EVENT_CUBE_SQL,
    "event_window_agg": EVENT_WINDOW_AGG_SQL,
    "event_sessionize": EVENT_SESSIONIZE_SQL,
    "event_asof_join": EVENT_ASOF_JOIN_SQL,
    "event_rollup": EVENT_ROLLUP_SQL,
    "event_daily_growth": EVENT_DAILY_GROWTH_SQL,
    "event_topk_per_user": EVENT_TOPK_PER_USER_SQL,
    "event_distinct_users": EVENT_DISTINCT_USERS_SQL,
    "event_funnel": EVENT_FUNNEL_SQL,
    "event_retention": EVENT_RETENTION_SQL,
    "event_anomaly": EVENT_ANOMALY_SQL,
}
