"""Event-stream queries over the synthetic ``events`` table: the batch
twins of the streaming operators (sessionization, tumbling / hopping /
running windows, as-of and range joins, sketches), plus funnels,
cohorts, engagement scoring and time-series alerts.

Time arithmetic is in microsecond epochs (``ts_us``), so the parquet
fixture's ns-vs-us timestamp encoding cannot skew a boundary; sums over
doubles follow relational.py's decimal rule (``_dsum``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from . import _dsum, load, ts_us
from ..persist import materialize


# ---------------------------------------------------------------------------
# window: running per-user value over the events stream table
# ---------------------------------------------------------------------------

def window_running_value(
    spark: SparkSession,
    sf_dir: str,
    time_bucket: int | None = None,
    hot_key_threshold: int | None = None,
) -> DataFrame:
    """Per-user running total via ``operators.windows.prefix_sum``;
    decimal accumulation (exact, order-insensitive) cast back to
    double at the edge. ``time_bucket`` engages the distributed
    prefix-sum hot-key guard — identical results by decimal
    associativity, gate-verified against the same oracle."""
    from ..operators.windows import prefix_sum

    e = load(spark, sf_dir, "events")
    e = e.select(
        "user_id", "event_id", ts_us(e).alias("us"),
        F.col("value").cast("decimal(20,6)").alias("v"),
    )
    return prefix_sum(
        e, ["user_id"], "us", "v", order_cols=["event_id"],
        time_bucket=time_bucket, out_col="running",
        hot_key_threshold=hot_key_threshold,
    ).select(
        "user_id", "event_id", F.col("running").cast("double").alias("running_value")
    )


WINDOW_RUNNING_SQL = """
SELECT user_id, event_id,
       CAST(SUM(CAST(value AS DECIMAL(20,6)))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
FROM events
"""


# ---------------------------------------------------------------------------
# sessionization: 30-minute-gap sessions (lag + cumulative conditional sum).
# Batch twin of the streaming session-window operator; time arithmetic in
# microsecond epochs so ns-vs-us parquet precision cannot skew boundaries.
# ---------------------------------------------------------------------------

def sessionize_events(
    spark: SparkSession,
    sf_dir: str,
    time_bucket: int | None = None,
    hot_key_threshold: int | None = None,
) -> DataFrame:
    from ..operators.sessionize import sessionize

    e = load(spark, sf_dir, "events")
    e = e.select(
        "user_id", "event_id", "value", ts_us(e).alias("us")
    )
    gap = 30 * 60 * 1_000_000
    return (
        sessionize(e, ["user_id"], "us", gap, order_cols=["event_id"],
                   time_bucket=time_bucket,
                   hot_key_threshold=hot_key_threshold)
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("us").alias("session_start_us"),
            F.max("us").alias("session_end_us"),
            _dsum(F.col("value")).alias("session_value"),
        )
    )


SESSIONIZE_SQL = """
WITH e AS (
  SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events
), flagged AS (
  SELECT user_id, event_id, value, us,
         CASE WHEN us - LAG(us) OVER w > 1800000000 THEN 1
              WHEN LAG(us) OVER w IS NULL THEN 1
              ELSE 0 END AS is_new
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
), sessions AS (
  SELECT user_id, value, us,
         -- CAST: DuckDB types SUM(int) as HUGEINT, which renders as float64
         -- under a pandas/arrow fetch and breaks the driver's value hash.
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(us) AS session_start_us, MAX(us) AS session_end_us,
       CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS session_value
FROM sessions
GROUP BY user_id, session_id
"""


def tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event type — the batch
    twin of the streaming windowed aggregation (same bucketing the
    watermarked ``window()`` path produces), on integer-exact
    microsecond epochs."""
    e = load(spark, sf_dir, "events")
    hour_us = 3_600_000_000
    return (
        e.select("event_type", ts_us(e).alias("us"), "value")
        .withColumn("window_start_us", F.expr(f"(us div {hour_us}) * {hour_us}"))
        .groupBy("event_type", "window_start_us")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(20,6)")).cast("double").alias("sum_value"),
        )
    )


TUMBLING_WINDOW_SQL = """
SELECT event_type,
       (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type, window_start_us
"""


def hopping_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) event-time windows: 1-hour windows every 15
    minutes, so each event lands in 4 overlapping windows — Spark's
    native ``window(size, slide)`` operator (the same fan-out the
    streaming path uses). The oracle reproduces Spark's epoch-aligned
    window assignment with integer arithmetic."""
    e = load(spark, sf_dir, "events")
    e = e.select("event_type", F.timestamp_micros(ts_us(e)).alias("ts_t"), "value")
    return (
        e.groupBy("event_type", F.window("ts_t", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(20,6)")).cast("double").alias("sum_value"),
        )
        .select(
            "event_type",
            F.unix_micros("w.start").alias("window_start_us"),
            "n_events",
            "sum_value",
        )
    )


HOPPING_WINDOW_SQL = """
WITH e AS (
  SELECT event_type, epoch_us(ts) AS us, value FROM events
), fanned AS (
  SELECT event_type, us, value,
         ((us // 900000000) - j.j) * 900000000 AS window_start_us
  FROM e CROSS JOIN range(4) j(j)
  WHERE ((us // 900000000) - j.j) * 900000000 + 3600000000 > us
)
SELECT event_type, window_start_us,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
FROM fanned
GROUP BY event_type, window_start_us
"""


# ---------------------------------------------------------------------------
# pivot (conditional aggregation): per-user event-type counts + JSON prop
# extraction (events.props is a JSON string column)
# ---------------------------------------------------------------------------

def pivot_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    aggs = [
        F.sum(F.when(F.col("event_type") == k, 1).otherwise(0)).alias(f"n_{k}") for k in kinds
    ]
    aggs.append(
        F.max(F.get_json_object("props", "$.k").cast("bigint")).alias("max_prop_k")
    )
    return e.groupBy("user_id").agg(*aggs)


PIVOT_SQL = """
SELECT user_id,
       -- CAST: DuckDB SUM(int) is HUGEINT → float64 under a pandas fetch;
       -- Spark returns BIGINT, so pin the oracle to BIGINT for hash parity.
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_prop_k
FROM events
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# daily active users: distinct-count aggregation on the event stream —
# the batch twin of the classic streaming DAU rollup.
# ---------------------------------------------------------------------------

def events_daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users + event volume. The day index is integer
    epoch-microsecond division (timezone- and parquet-precision-proof,
    see ts_us). COUNT(DISTINCT user_id) expands to Spark's two-phase
    distinct: partial dedup of (day, user) map-side, so the shuffle
    carries distinct pairs — at 100 TB that is bounded by
    days × users, not by event count. For cardinalities where even
    that is too hot, approx_count_distinct is the documented
    trade-off (tests/test_sketches.py); the gate pins the exact
    variant."""
    e = load(spark, sf_dir, "events")
    return (
        e.select((ts_us(e) / F.lit(86_400_000_000)).cast("long").alias("day_idx"),
                 "user_id", "event_id")
        .groupBy("day_idx")
        .agg(
            F.countDistinct("user_id").alias("dau"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("day_idx")
    )


DAU_SQL = """
SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_idx,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY day_idx
ORDER BY day_idx
"""


CM_WIDTH, CM_DEPTH = 512, 4


def countmin_user_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-count estimates from a count-min cell table
    (`operators/sketches.py`): build with one bounded aggregate
    (≤ depth×width cells), probe the distinct users against the
    broadcast table, return the top 25 by estimate. The estimate is
    deterministic (min over fixed hash rows, portable md5 hash
    family), so the DuckDB twin reproduces it bit-for-bit — the sketch
    itself is under the gate, not just its error bound."""
    from ..operators.sketches import countmin_estimate, countmin_table

    e = load(spark, sf_dir, "events").select("user_id")
    table = countmin_table(e, "user_id", width=CM_WIDTH, depth=CM_DEPTH, portable=True)
    probes = e.distinct()
    est = countmin_estimate(probes, "user_id", table,
                            width=CM_WIDTH, depth=CM_DEPTH, portable=True)
    return (
        est.select("user_id", "cm_estimate")
        .orderBy(F.col("cm_estimate").desc(), "user_id")
        .limit(25)
    )


def _countmin_sql() -> str:
    from ..operators.sketches import cm_pos_sql

    cell_rows = " UNION ALL ".join(
        f"SELECT {r} AS row, {cm_pos_sql('v', r, CM_WIDTH)} AS col FROM vals"
        for r in range(CM_DEPTH)
    )
    probe_cols = ", ".join(
        f"{cm_pos_sql('user_id', r, CM_WIDTH)} AS col_{r}" for r in range(CM_DEPTH)
    )
    # COALESCE mirrors countmin_estimate's 0 for missing cells; DuckDB's
    # least() ignores NULLs, so a bare scalar subquery would diverge from
    # Spark for probes absent from the build set (advisor r4 finding)
    mins = ", ".join(
        f"COALESCE((SELECT cnt FROM cells WHERE row = {r} AND col = p.col_{r}), 0)"
        for r in range(CM_DEPTH)
    )
    return f"""
WITH vals AS (
  SELECT user_id AS v FROM events
), cells AS (
  SELECT row, col, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM ({cell_rows})
  GROUP BY row, col
), probes AS (
  SELECT DISTINCT user_id, {probe_cols} FROM events
)
SELECT user_id, CAST(least({mins}) AS BIGINT) AS cm_estimate
FROM probes p
ORDER BY cm_estimate DESC, user_id
LIMIT 25
"""


def event_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition matrix (Markov/sequence-feature
    prep): one lag window partitioned by user + one aggregate. The
    window shuffles each user's events once; the transition matrix is
    |event_types|² rows — tiny at any corpus scale. Ties on identical
    timestamps are broken by event_id so the sequence (and the oracle's)
    is total-ordered."""
    from pyspark.sql import Window as W
    from . import ts_us

    e = load(spark, sf_dir, "events")
    e = e.select("user_id", "event_id", "event_type", ts_us(e).alias("us"))
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    return (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
        .orderBy("prev_type", "next_type")
    )


EVENT_TRANSITIONS_SQL = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         ) AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type,
       CAST(COUNT(*) AS BIGINT) AS n_transitions
FROM seq
WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
ORDER BY prev_type, next_type
"""


#: exact heavy-hitter threshold for the gate query (binding at sf0.01:
#: ~150 users averaging ~66 events, so only the heavy fifth clears 75)
HH_MIN_COUNT = 75


def heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (`operators/sketches.py:heavy_hitters`):
    users with >= 75 events, found by count-min prefilter (bounded cell
    shuffle + broadcast probe drops the tail map-side) then an exact
    count of the survivors — provably identical to the naive GROUP
    BY/HAVING the oracle runs, because count-min never underestimates."""
    from ..operators.sketches import heavy_hitters

    events = load(spark, sf_dir, "events")
    return heavy_hitters(events, "user_id", HH_MIN_COUNT, portable=True)


def _hh_sql() -> str:
    from ..operators.sketches import heavy_hitters_sql

    return heavy_hitters_sql("events", "user_id", HH_MIN_COUNT)


_DECAY_REF_US = 1707955200000000  # 2024-02-15T00:00:00Z


_DECAY_HALF_LIFE_US = 3 * 24 * 3600 * 1_000_000  # 3 days


def decayed_user_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact half-life-decayed per-user engagement
    (`operators/engagement.py:decayed_counts`): weights are whole
    powers of two from integer half-life buckets, so the decayed sums
    are int64-exact in any partition order — the hash-gateable form of
    exponential decay scoring. One map-side-combined groupBy."""
    from ..operators.engagement import decayed_counts

    e = load(spark, sf_dir, "events")
    e = e.select(
        "user_id",
        ts_us(e).alias("us"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    return decayed_counts(
        e,
        "user_id",
        "us",
        ref_us=_DECAY_REF_US,
        half_life_us=_DECAY_HALF_LIFE_US,
        value_cents="cents",
    ).orderBy("user_id")


def _decay_sql() -> str:
    from ..operators.engagement import decayed_counts_sql

    inner = (
        "SELECT user_id, epoch_us(ts) AS us, "
        "CAST(round(value * 100) AS BIGINT) AS cents FROM events"
    )
    return (
        decayed_counts_sql(
            inner,
            "user_id",
            "us",
            ref_us=_DECAY_REF_US,
            half_life_us=_DECAY_HALF_LIFE_US,
            value_cents="cents",
        )
        + " ORDER BY user_id"
    )


def session_path_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path mining (`operators/engagement.py:
    session_path_counts`): 3-step event-type paths inside 30-minute
    sessions — the sessionizer's shuffle is reused by the path window
    (same partition key), then one map-side-combined count."""
    from ..operators.engagement import session_path_counts
    from ..operators.sessionize import sessionize

    e = load(spark, sf_dir, "events")
    e = e.select("user_id", "event_id", "event_type", ts_us(e).alias("us"))
    gap = 30 * 60 * 1_000_000
    sessions = sessionize(
        e, ["user_id"], "us", gap, order_cols=["event_id"]
    )
    return session_path_counts(
        sessions,
        "user_id",
        "us",
        "session_id",
        "event_type",
        depth=3,
        order_cols=["event_id"],
    ).orderBy("path")


def _session_path_sql() -> str:
    from ..operators.engagement import session_path_counts_sql

    sessions = """
SELECT user_id, event_id, event_type, us,
       CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS session_id
FROM (
  SELECT user_id, event_id, event_type, us,
         CASE WHEN us - LAG(us) OVER w > 1800000000 THEN 1
              WHEN LAG(us) OVER w IS NULL THEN 1
              ELSE 0 END AS is_new
  FROM (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events) e
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
) flagged
"""
    return (
        session_path_counts_sql(
            sessions,
            "user_id",
            "us",
            "session_id",
            "event_type",
            depth=3,
            order_cols=["event_id"],
        )
        + " ORDER BY path"
    )


def resample_user_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled per-user daily resample
    (`operators/timeseries.py:resample_counts`): dense (user, day)
    grid between each user's first and last event, zero-filled — one
    aggregate, one span explode, one left join."""
    from ..operators.timeseries import resample_counts

    e = load(spark, sf_dir, "events")
    e = e.select(
        "user_id",
        ts_us(e).alias("us"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    day_us = 24 * 3600 * 1_000_000
    return resample_counts(
        e, "user_id", "us", day_us, value_col="cents"
    ).orderBy("user_id", "bucket")


def _resample_sql() -> str:
    from ..operators.timeseries import resample_counts_sql

    inner = (
        "SELECT user_id, epoch_us(ts) AS us, "
        "CAST(round(value * 100) AS BIGINT) AS cents FROM events"
    )
    body = resample_counts_sql(
        inner, "user_id", "us", 24 * 3600 * 1_000_000, value_col="cents"
    )
    # wrap: the twin's final select has user_id visible from both join
    # sides, so a bare ORDER BY user_id is ambiguous in DuckDB
    return f"SELECT * FROM ({body}) __r ORDER BY user_id, bucket"


def daily_top_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed top-k per group: each day's 3 most frequent event
    types (ties broken by type name) — partial-aggregated count +
    one rank window per day partition."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    day_us = 24 * 3600 * 1_000_000
    counts = (
        e.select(ts_us(e).alias("us"), "event_type")
        .select(F.expr(f"us div {day_us}").alias("day"), "event_type")
        .groupBy("day", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("day").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .orderBy("day", "rnk")
    )


_DAILY_TOP_SQL = """
SELECT day, event_type, n, rnk FROM (
  SELECT day, event_type, n,
         CAST(row_number() OVER (
             PARTITION BY day ORDER BY n DESC, event_type ASC
         ) AS BIGINT) AS rnk
  FROM (
    SELECT epoch_us(ts) // 86400000000 AS day, event_type,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
  ) __c
) WHERE rnk <= 3 ORDER BY day, rnk
"""


def outlier_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact k-sigma outlier detection
    (`operators/stats.py:flag_outliers`): per event type, count values
    failing the cross-multiplied 3-sigma test — no division, sqrt, or
    float anywhere, so the flags are hash-exact."""
    from ..operators.stats import flag_outliers

    e = load(spark, sf_dir, "events")
    e = e.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    flagged = flag_outliers(e, "event_type", "cents", k_num=3, k_den=1)
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("is_outlier").cast("long")).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


def _outlier_sql() -> str:
    from ..operators.stats import flag_outliers_sql

    inner = (
        "SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents "
        "FROM events"
    )
    wz = flag_outliers_sql(
        inner, "event_type", "cents", 3, 1, cols="event_type, cents"
    )
    return f"""
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN is_outlier THEN 1 ELSE 0 END) AS BIGINT)
           AS n_outliers
FROM ({wz}) __f
GROUP BY event_type ORDER BY event_type
"""


def engagement_pipeline_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events-side capstone — the engagement chain composed as one
    query, mirroring `curation_pipeline_counts` on the documents side:
    sessionize (30-min gap) → per-user session/event/value rollup →
    exact power-of-two decay weighting → integer-exact 3-sigma outlier
    flag on per-user event counts. One row per user, every column
    integer or boolean."""
    from ..operators.engagement import decayed_counts
    from ..operators.sessionize import sessionize
    from ..operators.stats import flag_outliers

    e = load(spark, sf_dir, "events")
    e = e.select(
        "user_id",
        "event_id",
        ts_us(e).alias("us"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    gap = 30 * 60 * 1_000_000
    sessions = sessionize(e, ["user_id"], "us", gap, order_cols=["event_id"])
    per_user = sessions.groupBy("user_id").agg(
        F.countDistinct("session_id").cast("long").alias("n_sessions"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )
    decayed = decayed_counts(
        e, "user_id", "us",
        ref_us=_DECAY_REF_US, half_life_us=_DECAY_HALF_LIFE_US,
    ).select("user_id", "decayed_weight")
    joined = per_user.join(decayed, "user_id").withColumn(
        "__g", F.lit(1)
    )
    flagged = flag_outliers(joined, "__g", "n_events", k_num=3, k_den=1)
    return flagged.select(
        "user_id", "n_sessions", "n_events", "sum_cents",
        "decayed_weight", "is_outlier",
    ).orderBy("user_id")


def _engagement_pipeline_sql() -> str:
    from ..operators.engagement import decayed_counts_sql

    sessions = """
SELECT user_id, us, cents,
       CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS session_id
FROM (
  SELECT user_id, event_id, us, cents,
         CASE WHEN us - LAG(us) OVER w > 1800000000 THEN 1
              WHEN LAG(us) OVER w IS NULL THEN 1
              ELSE 0 END AS is_new
  FROM (SELECT user_id, event_id, epoch_us(ts) AS us,
               CAST(round(value * 100) AS BIGINT) AS cents FROM events) e
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
) flagged
"""
    decay = decayed_counts_sql(
        "SELECT user_id, epoch_us(ts) AS us FROM events",
        "user_id", "us",
        ref_us=_DECAY_REF_US, half_life_us=_DECAY_HALF_LIFE_US,
    )
    return f"""
WITH sess AS ({sessions}), per_user AS (
  SELECT user_id,
         CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(cents) AS BIGINT) AS sum_cents
  FROM sess GROUP BY user_id
), decay AS (
  SELECT user_id, decayed_weight FROM ({decay}) __d
), joined AS (
  SELECT p.*, d.decayed_weight FROM per_user p JOIN decay d USING (user_id)
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS __n,
         CAST(sum(n_events) AS BIGINT) AS __s,
         CAST(sum(n_events * n_events) AS BIGINT) AS __ss
  FROM joined
)
SELECT user_id, n_sessions, n_events, sum_cents, decayed_weight,
       ((__n * n_events - __s) * (__n * n_events - __s))
           > (9 * (__n * __ss - __s * __s)) AS is_outlier
FROM joined, stats
ORDER BY user_id
"""


def rfm_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM engagement segmentation
    (`operators/engagement.py:rfm_segments`): per-user recency /
    frequency / monetary quintile bins with deterministic ntile
    tie-breaks."""
    from ..operators.engagement import rfm_segments

    e = load(spark, sf_dir, "events")
    e = e.select(
        "user_id",
        ts_us(e).alias("us"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    return rfm_segments(e, "user_id", "us", "cents").orderBy("user_id")


def _rfm_sql() -> str:
    from ..operators.engagement import rfm_segments_sql

    inner = (
        "SELECT user_id, epoch_us(ts) AS us, "
        "CAST(round(value * 100) AS BIGINT) AS cents FROM events"
    )
    return (
        rfm_segments_sql(inner, "user_id", "us", "cents")
        + " ORDER BY user_id"
    )


def bot_cadence_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Too-regular event cadence screen (`operators/engagement.py:
    regular_cadence_users`): users with >= 4 inter-event gaps but <= 2
    distinct gap values — scheduler/replay signatures in behavioral
    data."""
    from . import ts_us
    from ..operators.engagement import regular_cadence_users

    e = load(spark, sf_dir, "events")
    return regular_cadence_users(e, ts_us(e), min_gaps=4, max_distinct_gaps=2)


def _cadence_sql() -> str:
    from ..operators.engagement import regular_cadence_users_sql

    return regular_cadence_users_sql("events", 4, 2)




def cusum_event_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM upward-shift alerts on daily per-type event-value totals
    (`operators/timeseries.py:cusum_alerts`): the sequential
    S_t = max(0, S_{t-1} + x_t - k) recursion computed as two
    cumulative windows (running sum minus running min) — exact
    integers, no recursion, no UDF. Allowance and threshold derive
    from global per-day scale so the gate is scale-invariant."""
    from . import ts_us
    from ..operators.timeseries import cusum_alerts

    e = load(spark, sf_dir, "events")
    daily = (
        e.withColumn("__us", ts_us(e))
        .select(
            "event_type",
            F.expr("__us div 86400000000").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").alias("cents"))
    )
    # per-(type,day) mean cents, integer-floored: the in-control drift
    # integer div on BOTH engines: DuckDB CAST(double AS BIGINT)
    # rounds while Spark's cast truncates — sidestep floats entirely
    from ..persist import materialize

    # one events scan: the mean collect materializes the checkpoint,
    # cusum_alerts reads blocks (r14)
    daily = materialize(daily)
    k = int(daily.agg(F.expr("sum(cents) div count(1)")).collect()[0][0])
    return cusum_alerts(daily, "event_type", "day", "cents", k, k // 2)


def _cusum_sql() -> str:
    from ..operators.timeseries import cusum_alerts_sql

    series = """
SELECT event_type, epoch_us(ts) // 86400000000 AS day,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events GROUP BY event_type, epoch_us(ts) // 86400000000
"""
    return f"""
WITH s AS ({series}),
kk AS (SELECT CAST(sum(cents) // count(*) AS BIGINT) AS k FROM s),
c AS (
  SELECT event_type, day, cents,
         sum(cents - kk.k) OVER (
             PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum
  FROM s CROSS JOIN kk
),
m AS (
  SELECT *, min(cum) OVER (
      PARTITION BY event_type ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS mn
  FROM c
)
SELECT event_type, day, CAST(cents AS BIGINT) AS cents,
       CAST(cum - least(0, mn) AS BIGINT) AS cusum
FROM m CROSS JOIN kk WHERE cum - least(0, mn) > kk.k // 2
"""


def cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct-user counts per day WITHOUT a distinct-per-
    window blowup: a user contributes on their FIRST day only, so the
    running distinct count is a cumulative sum over per-hour first-seen
    counts — the standard rewrite that turns an O(days x users)
    window-distinct into one aggregate plus a days-sized window."""
    from pyspark.sql import Window, functions as F

    from . import ts_us

    ev = load(spark, sf_dir, "events")
    hours = (
        ev.withColumn("__us", ts_us(ev))
        .select("user_id", F.expr("__us div 3600000000").alias("hour"))
        .groupBy("user_id")
        .agg(F.min("hour").alias("first_hour"))
        .groupBy("first_hour")
        .agg(F.count("*").cast("long").alias("new_users"))
    )
    w = Window.orderBy("first_hour").rowsBetween(Window.unboundedPreceding, 0)
    return hours.select(
        F.col("first_hour").alias("hour"),
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


_CUM_DISTINCT_SQL = """
WITH firsts AS (
  SELECT user_id, min(epoch_us(ts) // 3600000000) AS first_hour
  FROM events GROUP BY user_id
),
hours AS (
  SELECT first_hour, CAST(count(*) AS BIGINT) AS new_users
  FROM firsts GROUP BY first_hour
)
SELECT first_hour AS hour, new_users,
       CAST(sum(new_users) OVER (ORDER BY first_hour
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
FROM hours
"""


def user_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over per-user active days: consecutive-day
    streaks merged into (start, end, length) intervals via the
    ``day - row_number`` grouping constant. Windows are per-user and
    bounded by the calendar, never by event volume — the per-user
    distinct-day aggregate comes first."""
    from pyspark.sql import Window, functions as F

    from . import ts_us

    ev = load(spark, sf_dir, "events")
    days = (
        ev.withColumn("__us", ts_us(ev))
        .select("user_id", F.expr("__us div 86400000000").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.withColumn("grp", F.col("day") - F.row_number().over(w))
    return (
        grp.groupBy("user_id", "grp")
        .agg(
            F.min("day").alias("start_day"),
            F.max("day").alias("end_day"),
            F.count("*").cast("long").alias("n_days"),
        )
        .select("user_id", "start_day", "end_day", "n_days")
    )


_ISLANDS_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
),
grp AS (
  SELECT user_id, day,
         day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
  FROM days
)
SELECT user_id, min(day) AS start_day, max(day) AS end_day,
       CAST(count(*) AS BIGINT) AS n_days
FROM grp GROUP BY user_id, grp
"""




def bursty_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano-factor burstiness audit of hourly arrival counts per event
    type (`operators/timeseries.py:fano_dispersion`): exact-integer
    variance/mean of per-hour counts, the dispersion test separating
    Poisson-like organic traffic from bursty machine traffic."""
    from pyspark.sql import functions as F

    from . import ts_us
    from ..operators.timeseries import fano_dispersion

    ev = load(spark, sf_dir, "events")
    ev = ev.withColumn("__us", ts_us(ev))
    return fano_dispersion(ev, "event_type", F.expr("__us div 3600000000"))


def _bursty_sql() -> str:
    from ..operators.timeseries import fano_dispersion_sql

    return fano_dispersion_sql("events", "event_type", "epoch_us(ts) // 3600000000")


def rolling_7d_value_extrema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed sliding window (a frame kind no other gate pins):
    per user and day, the min/max/count of daily event-value cents over
    the trailing 7-day RANGE window — value-based frames skip missing
    days correctly where ROWS frames would silently widen."""
    from pyspark.sql import Window, functions as F

    from . import ts_us

    ev = load(spark, sf_dir, "events")
    daily = (
        ev.withColumn("__us", ts_us(ev))
        .select(
            "user_id",
            F.expr("__us div 86400000000").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("user_id", "day")
        .agg(F.sum("cents").alias("day_cents"))
    )
    w = Window.partitionBy("user_id").orderBy("day").rangeBetween(-6, 0)
    return daily.select(
        "user_id",
        "day",
        "day_cents",
        F.min("day_cents").over(w).alias("min_7d"),
        F.max("day_cents").over(w).alias("max_7d"),
        F.count("*").over(w).cast("long").alias("days_7d"),
    )


_ROLLING_7D_SQL = """
WITH daily AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS day_cents
  FROM events GROUP BY user_id, epoch_us(ts) // 86400000000
)
SELECT user_id, day, day_cents,
       CAST(min(day_cents) OVER w AS BIGINT) AS min_7d,
       CAST(max(day_cents) OVER w AS BIGINT) AS max_7d,
       CAST(count(*) OVER w AS BIGINT) AS days_7d
FROM daily
WINDOW w AS (PARTITION BY user_id ORDER BY day
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


def funnel_within_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-CONSTRAINED funnel (view -> click -> purchase, each step
    within one hour of the one before): a click qualifies if SOME view
    precedes it by <= 1h, a purchase if some QUALIFIED click does. One
    per-user window pass — a conditional running max of the previous
    stage's timestamp — no self-joins, no per-step shuffle; the
    unconstrained funnel gate (`event_funnel_counts`) cannot express
    the deadline, and greedy earliest-event logic is WRONG here (an
    early view can expire; the latest preceding view is the right
    anchor). Output: per user, counts of qualified clicks/purchases
    and the first qualified timestamps (0 when a user never
    qualifies — NULL longs degrade to float64 through Arrow/pandas on
    the oracle side, so the sentinel keeps both engines integer)."""
    from pyspark.sql import Window, functions as F

    from . import ts_us

    ev = load(spark, sf_dir, "events")
    ev = ev.withColumn("__us", ts_us(ev)).select(
        "user_id", "event_type", "__us", "event_id"
    )
    hour = 3_600_000_000
    w = (
        Window.partitionBy("user_id")
        .orderBy("__us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # last view at-or-before each row (inclusive ordering keeps a
    # same-microsecond view usable by a click tied on ts — matched by
    # the oracle's <= comparisons)
    stage1 = ev.withColumn(
        "last_view_us",
        F.max(F.when(F.col("event_type") == "view", F.col("__us"))).over(w),
    )
    stage1 = stage1.withColumn(
        "click_ok",
        (F.col("event_type") == "click")
        & F.col("last_view_us").isNotNull()
        & (F.col("__us") - F.col("last_view_us") <= hour),
    )
    stage2 = stage1.withColumn(
        "last_qclick_us",
        F.max(F.when(F.col("click_ok"), F.col("__us"))).over(w),
    ).withColumn(
        "purchase_ok",
        (F.col("event_type") == "purchase")
        & F.col("last_qclick_us").isNotNull()
        & (F.col("__us") - F.col("last_qclick_us") <= hour),
    )
    return (
        stage2.groupBy("user_id")
        .agg(
            F.sum(F.col("click_ok").cast("long")).cast("long").alias("q_clicks"),
            F.sum(F.col("purchase_ok").cast("long")).cast("long").alias("q_purchases"),
            F.coalesce(
                F.min(F.when(F.col("click_ok"), F.col("__us"))), F.lit(0)
            ).cast("long").alias("first_q_click_us"),
            F.coalesce(
                F.min(F.when(F.col("purchase_ok"), F.col("__us"))), F.lit(0)
            ).cast("long").alias("first_q_purchase_us"),
        )
    )


_FUNNEL_HOUR_SQL = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events
),
s1 AS (
  SELECT *, max(CASE WHEN event_type = 'view' THEN us END) OVER w AS last_view_us
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
s1b AS (
  SELECT *, (event_type = 'click' AND last_view_us IS NOT NULL
             AND us - last_view_us <= 3600000000) AS click_ok
  FROM s1
),
s2 AS (
  SELECT *, max(CASE WHEN click_ok THEN us END) OVER w AS last_qclick_us
  FROM s1b
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
s2b AS (
  SELECT *, (event_type = 'purchase' AND last_qclick_us IS NOT NULL
             AND us - last_qclick_us <= 3600000000) AS purchase_ok
  FROM s2
)
SELECT user_id,
       CAST(sum(CASE WHEN click_ok THEN 1 ELSE 0 END) AS BIGINT) AS q_clicks,
       CAST(sum(CASE WHEN purchase_ok THEN 1 ELSE 0 END) AS BIGINT) AS q_purchases,
       CAST(COALESCE(min(CASE WHEN click_ok THEN us END), 0) AS BIGINT) AS first_q_click_us,
       CAST(COALESCE(min(CASE WHEN purchase_ok THEN us END), 0) AS BIGINT) AS first_q_purchase_us
FROM s2b GROUP BY user_id
"""


def peak_concurrency_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent users per day via the SWEEP LINE
    (`operators/range_join.py:sweep_line_peak`): each user-day activity
    interval (first..last event) emits +1/-1 boundaries; a per-day
    running sum is the live-user count. One sort of 2n boundary rows
    per day — overlap COUNTING without the pairwise join, which would
    be quadratic on a dense day."""
    from pyspark.sql import functions as F

    from . import ts_us
    from ..operators.range_join import sweep_line_peak

    ev = load(spark, sf_dir, "events")
    ev = ev.withColumn("__us", ts_us(ev))
    iv = (
        ev.select("user_id", F.expr("__us div 86400000000").alias("day"), "__us")
        .groupBy("user_id", "day")
        .agg(F.min("__us").alias("start_us"), F.max("__us").alias("end_us"))
    )
    return sweep_line_peak(iv, "day")


def _peak_concurrency_sql() -> str:
    from ..operators.range_join import sweep_line_peak_sql

    iv = (
        "SELECT user_id, epoch_us(ts) // 86400000000 AS day,"
        " CAST(min(epoch_us(ts)) AS BIGINT) AS start_us,"
        " CAST(max(epoch_us(ts)) AS BIGINT) AS end_us"
        " FROM events GROUP BY user_id, epoch_us(ts) // 86400000000"
    )
    return sweep_line_peak_sql(iv, "day")


def purchase_session_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed interval-overlap SELF-join (`operators/range_join.py:
    interval_overlap_pairs`): per-user-day purchase sessions (>= 2
    purchase events in a day, interval = first..last purchase)
    overlapping OTHER users' sessions — the concurrent-shopping
    screen. Each true pair is emitted exactly once via the
    canonical-bucket rule, no distinct."""
    from pyspark.sql import functions as F

    from . import ts_us
    from ..operators.range_join import interval_overlap_pairs

    ev = load(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    ev = ev.withColumn("__us", ts_us(ev))
    iv = (
        ev.select("user_id", F.expr("__us div 86400000000").alias("day"), "__us")
        .groupBy("user_id", "day")
        .agg(
            F.min("__us").alias("start_us"),
            F.max("__us").alias("end_us"),
            F.count("*").alias("n"),
        )
        .where(F.col("n") >= 2)
        .select(
            # one interval id per (user, day) session; users are < 2^20
            (F.col("user_id") * 1_000_000 + F.col("day") % 1_000_000).alias("iv_id"),
            "start_us",
            "end_us",
        )
    )
    return interval_overlap_pairs(iv, "iv_id")


def _purchase_session_sql() -> str:
    from ..operators.range_join import interval_overlap_pairs_sql

    iv = (
        "SELECT user_id * 1000000 + (epoch_us(ts) // 86400000000) % 1000000 AS iv_id,"
        " CAST(min(epoch_us(ts)) AS BIGINT) AS start_us,"
        " CAST(max(epoch_us(ts)) AS BIGINT) AS end_us"
        " FROM events WHERE event_type = 'purchase'"
        " GROUP BY user_id, epoch_us(ts) // 86400000000"
        " HAVING count(*) >= 2"
    )
    return interval_overlap_pairs_sql(iv, "iv_id")


def asof_purchase_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (absent from the reference, SURVEY §2.3): each
    purchase event picks up the value of the user's most recent strictly
    -prior view event. Union+window implementation — one shuffle, no
    range-join fan-out (`operators.asof.as_of_join`)."""
    from ..operators.asof import as_of_join

    e = load(spark, sf_dir, "events")
    e = e.select(
        "event_id", "user_id", "event_type", "value", ts_us(e).alias("us")
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "us", F.col("value").alias("purchase_value")
    )
    views = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id", "us")
        .agg(F.max_by("value", "event_id").alias("view_value"))
    )
    return as_of_join(
        purchases, views, on=["user_id"], ts="us", payload=["view_value"]
    ).select("event_id", "user_id", "purchase_value", "view_value")


ASOF_PURCHASE_LAST_VIEW_SQL = """
WITH e AS (
  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS us FROM events
), purchases AS (
  SELECT event_id, user_id, us, value AS purchase_value FROM e WHERE event_type = 'purchase'
), views AS (
  SELECT user_id, us, arg_max(value, event_id) AS view_value
  FROM e WHERE event_type = 'view' GROUP BY user_id, us
)
SELECT p.event_id, p.user_id, p.purchase_value, v.view_value
FROM purchases p ASOF LEFT JOIN views v
  ON p.user_id = v.user_id AND v.us < p.us
"""


def asof_bucketed_purchase_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HOT-KEY-GUARDED as-of path under the oracle gate: identical
    semantics to ``asof_purchase_last_view`` but windowed per
    (user, 1-hour time bucket) with boundary stitch
    (``as_of_join(time_bucket=...)``) so one pathological user cannot
    become one giant sort task. Shares the backward oracle SQL — the
    results must be identical by construction."""
    from ..operators.asof import as_of_join

    e = load(spark, sf_dir, "events")
    e = e.select(
        "event_id", "user_id", "event_type", "value", ts_us(e).alias("us")
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "us", F.col("value").alias("purchase_value")
    )
    views = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id", "us")
        .agg(F.max_by("value", "event_id").alias("view_value"))
    )
    return as_of_join(
        purchases,
        views,
        on=["user_id"],
        ts="us",
        payload=["view_value"],
        time_bucket=3_600_000_000,
    ).select("event_id", "user_id", "purchase_value", "view_value")


def asof_forward_next_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of with tolerance (pandas merge_asof parity): each
    purchase picks up the user's EARLIEST strictly-later view value,
    nulled when it is more than one hour away. Same union+window plan
    as backward — only the time sort flips."""
    from ..operators.asof import as_of_join

    e = load(spark, sf_dir, "events")
    e = e.select(
        "event_id", "user_id", "event_type", "value", ts_us(e).alias("us")
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "us", F.col("value").alias("purchase_value")
    )
    views = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id", "us")
        .agg(F.max_by("value", "event_id").alias("next_view_value"))
    )
    hour_us = 3_600_000_000
    return as_of_join(
        purchases,
        views,
        on=["user_id"],
        ts="us",
        payload=["next_view_value"],
        direction="forward",
        tolerance=hour_us,
    ).select("event_id", "user_id", "purchase_value", "next_view_value")


ASOF_FORWARD_NEXT_VIEW_SQL = """
WITH e AS (
  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS us FROM events
), purchases AS (
  SELECT event_id, user_id, us, value AS purchase_value FROM e WHERE event_type = 'purchase'
), views AS (
  SELECT user_id, us, arg_max(value, event_id) AS next_view_value
  FROM e WHERE event_type = 'view' GROUP BY user_id, us
)
SELECT p.event_id, p.user_id, p.purchase_value,
       CASE WHEN v.us - p.us <= 3600000000 THEN v.next_view_value END AS next_view_value
FROM purchases p ASOF LEFT JOIN views v
  ON p.user_id = v.user_id AND v.us > p.us
"""


def event_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion over the event stream: per user, the earliest
    view / click / purchase timestamps from ONE conditional-min
    aggregation (no self-joins), then corpus-level stage counts with
    strict ordering (view < click < purchase). The single-pass
    min-per-type shape is the scalable funnel plan — one shuffle on
    user_id regardless of funnel depth."""
    e = load(spark, sf_dir, "events")
    e = e.select("user_id", "event_type", ts_us(e).alias("us"))
    mins = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("us"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("us"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("us"))).alias("t_buy"),
    )
    return mins.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count(F.col("t_view")).alias("n_view"),
        F.coalesce(
            F.sum(((F.col("t_click") > F.col("t_view"))).cast("long")), F.lit(0)
        ).alias("n_view_then_click"),
        F.coalesce(
            F.sum(
                (
                    (F.col("t_click") > F.col("t_view"))
                    & (F.col("t_buy") > F.col("t_click"))
                ).cast("long")
            ),
            F.lit(0),
        ).alias("n_full_funnel"),
    )


EVENT_FUNNEL_SQL = """
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
), mins AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN us END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN us END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN us END) AS t_buy
  FROM e GROUP BY user_id
)
SELECT count(*) AS n_users,
       count(t_view) AS n_view,
       CAST(SUM(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT)
           AS n_view_then_click,
       CAST(SUM(CASE WHEN t_click > t_view AND t_buy > t_click THEN 1 ELSE 0 END)
           AS BIGINT) AS n_full_funnel
FROM mins
"""


def cohort_retention_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by signup week, counted
    in each later week they were active. Two aggregations + one join —
    cohort assignment is a conditional min per user (no self-join),
    activity is a distinct (user, week) projection; all time math is
    integer epoch-microsecond division, so the oracle matches exactly."""
    week_us = 7 * 24 * 3600 * 1_000_000
    e = load(spark, sf_dir, "events")
    e = e.select("user_id", "event_type", ts_us(e).alias("us"))
    cohort = (
        e.groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "signup", F.col("us"))
            ).alias("s_us")
        )
        .where(F.col("s_us").isNotNull())
        .select("user_id", F.expr(f"s_us div {week_us}").alias("cohort_week"))
    )
    activity = e.select(
        "user_id", F.expr(f"us div {week_us}").alias("week")
    ).distinct()
    return (
        activity.join(cohort, "user_id")
        .where(F.col("week") >= F.col("cohort_week"))
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


COHORT_RETENTION_SQL = """
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
), cohort AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN us END) // 604800000000
             AS cohort_week
  FROM e GROUP BY user_id
  HAVING min(CASE WHEN event_type = 'signup' THEN us END) IS NOT NULL
), activity AS (
  SELECT DISTINCT user_id, us // 604800000000 AS week FROM e
)
SELECT cohort_week, week - cohort_week AS week_offset, count(*) AS n_users
FROM activity JOIN cohort USING (user_id)
WHERE week >= cohort_week
GROUP BY cohort_week, week_offset
"""


def events_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: the events ``props`` JSON string
    is parsed in-plan (no UDF) and aggregated by a derived bucket."""
    e = load(spark, sf_dir, "events")
    return (
        e.select(F.expr("CAST(get_json_object(props, '$.k') AS INT) div 10").alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


EVENTS_PROPS_EXTRACT_SQL = """
SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) // 10 AS k_bucket,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events
GROUP BY k_bucket
"""


RANGE_WINDOW_US = 30 * 60 * 1_000_000  # 30 minutes


def range_join_purchase_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (absent from the reference): all (purchase, view)
    pairs of the same user where the view happened within the 30
    minutes strictly before the purchase — bucketed equi-join + exact
    refine, no nested loop (`operators.range_join`)."""
    from ..operators.range_join import range_join

    e = load(spark, sf_dir, "events")
    e = e.select(
        "event_id", "user_id", "event_type", ts_us(e).alias("us")
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("us").alias("p_us")
    )
    views = e.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("us").alias("v_us")
    )
    return range_join(
        purchases, views, ["user_id"], "p_us", "v_us", RANGE_WINDOW_US
    ).select("purchase_id", "view_id", "user_id")


RANGE_JOIN_SQL = f"""
WITH e AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events
)
SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id
FROM (SELECT * FROM e WHERE event_type = 'purchase') p
JOIN (SELECT * FROM e WHERE event_type = 'view') v
  ON p.user_id = v.user_id
 AND v.us >= p.us - {RANGE_WINDOW_US}
 AND v.us < p.us
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "window_running_value": window_running_value,
    # hot-key-guarded running sum: distributed prefix sum over
    # (user, 1h bucket); decimal associativity makes it exactly equal
    "window_running_value_bucketed": (
        lambda spark, sf_dir: window_running_value(
            spark, sf_dir, time_bucket=3_600_000_000
        )
    ),
    "sessionize_events": sessionize_events,
    # hot-key-guarded sessionize under the oracle gate: distributed
    # prefix-sum over (user, 1h bucket); must equal the plain scan
    "sessionize_events_bucketed": (
        lambda spark, sf_dir: sessionize_events(
            spark, sf_dir, time_bucket=3_600_000_000
        )
    ),
    # hot-key ROUTED variant (r5): only keys with >=500 events take the
    # bucketed path, the rest the plain window; same oracle — the
    # routed union must be exactly the plain result
    "sessionize_events_hotkey": (
        lambda spark, sf_dir: sessionize_events(
            spark, sf_dir, time_bucket=3_600_000_000, hot_key_threshold=500
        )
    ),
    "window_running_value_hotkey": (
        lambda spark, sf_dir: window_running_value(
            spark, sf_dir, time_bucket=3_600_000_000, hot_key_threshold=500
        )
    ),
    "tumbling_window_counts": tumbling_window_counts,
    "hopping_window_counts": hopping_window_counts,
    "pivot_user_events": pivot_user_events,
    "events_daily_active_users": events_daily_active_users,
    "countmin_user_frequencies": countmin_user_frequencies,
    "event_transition_counts": event_transition_counts,
    "heavy_hitter_users": heavy_hitter_users,
    "decayed_user_engagement": decayed_user_engagement,
    "session_path_top": session_path_top,
    "resample_user_days": resample_user_days,
    "daily_top_event_types": daily_top_event_types,
    "outlier_event_values": outlier_event_values,
    "engagement_pipeline_users": engagement_pipeline_users,
    "rfm_user_segments": rfm_user_segments,
    "bot_cadence_users": bot_cadence_users,
    "cusum_event_alerts": cusum_event_alerts,
    "cumulative_distinct_users": cumulative_distinct_users,
    "user_activity_islands": user_activity_islands,
    "bursty_event_types": bursty_event_types,
    "rolling_7d_value_extrema": rolling_7d_value_extrema,
    "funnel_within_hour": funnel_within_hour,
    "peak_concurrency_daily": peak_concurrency_daily,
    "purchase_session_overlaps": purchase_session_overlaps,
    "asof_purchase_last_view": asof_purchase_last_view,
    "asof_bucketed_purchase_last_view": asof_bucketed_purchase_last_view,
    "asof_forward_next_view": asof_forward_next_view,
    "event_funnel_counts": event_funnel_counts,
    "cohort_retention_counts": cohort_retention_counts,
    "events_props_extract": events_props_extract,
    "range_join_purchase_views": range_join_purchase_views,
}

ORACLES: dict[str, str] = {
    "window_running_value": WINDOW_RUNNING_SQL,
    "window_running_value_bucketed": WINDOW_RUNNING_SQL,
    "sessionize_events": SESSIONIZE_SQL,
    "sessionize_events_bucketed": SESSIONIZE_SQL,
    "sessionize_events_hotkey": SESSIONIZE_SQL,
    "window_running_value_hotkey": WINDOW_RUNNING_SQL,
    "tumbling_window_counts": TUMBLING_WINDOW_SQL,
    "hopping_window_counts": HOPPING_WINDOW_SQL,
    "pivot_user_events": PIVOT_SQL,
    "events_daily_active_users": DAU_SQL,
    "countmin_user_frequencies": _countmin_sql(),
    "event_transition_counts": EVENT_TRANSITIONS_SQL,
    "heavy_hitter_users": _hh_sql(),
    "decayed_user_engagement": _decay_sql(),
    "session_path_top": _session_path_sql(),
    "resample_user_days": _resample_sql(),
    "daily_top_event_types": _DAILY_TOP_SQL,
    "outlier_event_values": _outlier_sql(),
    "engagement_pipeline_users": _engagement_pipeline_sql(),
    "rfm_user_segments": _rfm_sql(),
    "bot_cadence_users": _cadence_sql(),
    "cusum_event_alerts": _cusum_sql(),
    "cumulative_distinct_users": _CUM_DISTINCT_SQL,
    "user_activity_islands": _ISLANDS_SQL,
    "bursty_event_types": _bursty_sql(),
    "rolling_7d_value_extrema": _ROLLING_7D_SQL,
    "funnel_within_hour": _FUNNEL_HOUR_SQL,
    "peak_concurrency_daily": _peak_concurrency_sql(),
    "purchase_session_overlaps": _purchase_session_sql(),
    "asof_purchase_last_view": ASOF_PURCHASE_LAST_VIEW_SQL,
    "asof_bucketed_purchase_last_view": ASOF_PURCHASE_LAST_VIEW_SQL,
    "asof_forward_next_view": ASOF_FORWARD_NEXT_VIEW_SQL,
    "event_funnel_counts": EVENT_FUNNEL_SQL,
    "cohort_retention_counts": COHORT_RETENTION_SQL,
    "events_props_extract": EVENTS_PROPS_EXTRACT_SQL,
    "range_join_purchase_views": RANGE_JOIN_SQL,
}
