"""Event-time operators over ``events``, batch-expressed.

These are the batch equivalents of the Structured Streaming pipelines
in ``parquet_stream_writer_spark.streaming`` — same window semantics,
runnable under the DuckDB oracle (the driver's batch-SQL check). The
streaming module reuses these shapes with ``readStream`` +
``withWatermark``; keeping the logic here batch-first means the exact
same aggregation is verified by the oracle and then lifted to a
stream.

``events.ts`` arrives as parquet TIMESTAMP(NANOS) — the loader
truncates to µs identically to DuckDB (see ``sources.load_events``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from parquet_stream_writer_spark.functions import pround, quantn
from parquet_stream_writer_spark.sources import load_table

#: Session gap for sessionization.
_SESSION_GAP_MIN = 30


def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows per event type (Spark ``window`` op —
    the exact shape a streaming groupBy(window(...)) plans)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            pround(F.sum("value"), 2).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            "event_type",
            "n_events",
            "sum_value",
            "n_users",
        )
    )


ORACLE_EVENTS_TUMBLING = """
SELECT date_trunc('hour', ts) AS w_start,
       event_type,
       count(*) AS n_events,
       floor((sum(value)) * 100 + 0.5) / 100.0 AS sum_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
"""


def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 minutes — each event lands in
    exactly two windows (Spark expands via the window generator)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # Rounded-sum-divide (2-dp values; convention of
            # events_seasonality_profile): window means stay off
            # engine-order-dependent 4-dp half-steps.
            pround(pround(F.sum("value"), 2) / F.count(F.lit(1)), 4).alias(
                "avg_value"
            ),
        )
        .select(F.col("w.start").alias("w_start"), "n_events", "avg_value")
    )


ORACLE_EVENTS_SLIDING = """
WITH expanded AS (
  SELECT unnest([
           time_bucket(INTERVAL '5 minutes', ts),
           time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes'
         ]) AS w_start,
         value
  FROM events
)
SELECT w_start, count(*) AS n_events,
       floor(((floor(sum(value) * 100 + 0.5) / 100.0) / count(*)) * 10000 + 0.5) / 10000.0 AS avg_value
FROM expanded GROUP BY w_start
"""


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity), gaps-and-islands:
    flag gap-openers with lag, running-sum the flags into session ids,
    aggregate per session. One shuffle on user_id; both window passes
    reuse the same partitioning (no second exchange)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Microsecond gaps, not unix_timestamp's truncated seconds: the
    # oracle's epoch() keeps the fraction, so two events 1800.5 s
    # apart must open two sessions on both sides.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap_us = _SESSION_GAP_MIN * 60 * 1_000_000
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull() | (us - F.lag(us).over(w) > gap_us),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_idx",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sessions.groupBy("user_id", "session_idx").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        pround(F.sum("value"), 2).alias("sum_value"),
    )


ORACLE_EVENTS_SESSIONIZE = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > {_SESSION_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts, value,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
  FROM flagged
)
SELECT user_id, session_idx,
       min(ts) AS session_start,
       max(ts) AS session_end,
       count(*) AS n_events,
       floor((sum(value)) * 100 + 0.5) / 100.0 AS sum_value
FROM sessions GROUP BY user_id, session_idx
"""


def events_enrich_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-dim enrichment: events joined to broadcast customer →
    nation dims (the canonical streaming lookup join — map-side only,
    no event shuffle)."""
    ev = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        ev.join(F.broadcast(customer), ev.user_id == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("event_type", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            pround(F.sum("value"), 2).alias("sum_value"),
        )
    )


ORACLE_EVENTS_ENRICH_DIM = """
SELECT event_type, n_name,
       count(*) AS n_events,
       floor((sum(value)) * 100 + 0.5) / 100.0 AS sum_value
FROM events
JOIN customer ON user_id = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY event_type, n_name
"""


QUERIES = {
    "events_tumbling": events_tumbling,
    "events_sliding": events_sliding,
    "events_sessionize": events_sessionize,
    "events_enrich_dim": events_enrich_dim,
}

ORACLE = {
    "events_tumbling": ORACLE_EVENTS_TUMBLING,
    "events_sliding": ORACLE_EVENTS_SLIDING,
    "events_sessionize": ORACLE_EVENTS_SESSIONIZE,
    "events_enrich_dim": ORACLE_EVENTS_ENRICH_DIM,
}


def events_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per user, maximal runs of consecutive active
    hours (the classic streak/retention query).

    Integer hour index minus ``row_number`` is constant within a
    consecutive run — one window over (user, hour) then a groupBy;
    no self-join, no iteration. Two shuffles total, both on user_id.
    """
    ev = load_table(spark, sf_dir, "events")
    hours = ev.select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hr"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("hr")
    islands = hours.withColumn(
        "anchor", F.col("hr") - F.row_number().over(w)
    )
    streaks = islands.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("streak_len")
    )
    return streaks.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("streak_len").alias("max_streak"),
        F.sum("streak_len").alias("active_hours"),
    )


ORACLE_EVENTS_GAPS_ISLANDS = """
WITH hours AS (
  SELECT DISTINCT user_id, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr
  FROM events
),
islands AS (
  SELECT user_id, hr,
         hr - row_number() OVER (PARTITION BY user_id ORDER BY hr) AS anchor
  FROM hours
),
streaks AS (
  SELECT user_id, anchor, count(*) AS streak_len
  FROM islands GROUP BY user_id, anchor
)
SELECT user_id, count(*) AS n_streaks, max(streak_len) AS max_streak,
       CAST(sum(streak_len) AS BIGINT) AS active_hours
FROM streaks GROUP BY user_id
"""


QUERIES["events_gaps_islands"] = events_gaps_islands
ORACLE["events_gaps_islands"] = ORACLE_EVENTS_GAPS_ISLANDS


def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + forward fill: a dense hourly grid per
    user (from each user's first to last active hour), hourly sums
    joined on, missing hours carried forward with
    ``last(ignorenulls)`` — the standard feature-table densification
    before sequence-model training.

    The grid is generated distributed (``sequence`` + ``explode`` per
    user — no driver-side range materialization); the fill is one
    window over (user, hour).
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "user_id", F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hr"), "value"
        )
        .groupBy("user_id", "hr")
        .agg(pround(F.sum("value"), 2).alias("v"), F.count(F.lit(1)).alias("n"))
    )
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("hr").alias("mn"), F.max("hr").alias("mx"))
        .select("user_id", F.explode(F.sequence("mn", "mx")).alias("hr"))
    )
    filled = grid.join(hourly, ["user_id", "hr"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "user_id",
        "hr",
        F.last("v", ignorenulls=True).over(w).alias("v_ffill"),
        F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
    )


ORACLE_EVENTS_GAP_FILL = """
WITH hourly AS (
  SELECT user_id, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
         floor((sum(value)) * 100 + 0.5) / 100.0 AS v, count(*) AS n
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT user_id, unnest(generate_series(min(hr), max(hr))) AS hr
  FROM hourly GROUP BY user_id
),
filled AS (
  SELECT g.user_id, g.hr, h.v, h.n FROM grid g
  LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hr = h.hr
)
SELECT user_id, hr,
       last_value(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY hr
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill,
       CAST(coalesce(n, 0) AS BIGINT) AS n_events
FROM filled
"""


QUERIES["events_gap_fill"] = events_gap_fill
ORACLE["events_gap_fill"] = ORACLE_EVENTS_GAP_FILL


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: a user
    converts a stage only if it happens strictly after the previous
    stage's first occurrence. One groupBy(user) computing three
    conditional-min timestamps, then one global roll-up — two
    shuffles, the second on a 3-row relation."""
    ev = load_table(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    per_user = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    staged = per_user.select(
        F.col("t_view").isNotNull().alias("viewed"),
        (F.col("t_click") > F.col("t_view")).alias("clicked"),
        (
            (F.col("t_click") > F.col("t_view"))
            & (F.col("t_purchase") > F.col("t_click"))
        ).alias("purchased"),
    )
    return staged.agg(
        F.sum(F.when(F.col("viewed"), 1).otherwise(0)).alias("n_viewed"),
        F.sum(F.when(F.col("clicked"), 1).otherwise(0)).alias("n_clicked_after_view"),
        F.sum(F.when(F.col("purchased"), 1).otherwise(0)).alias("n_purchased_after_click"),
    )


ORACLE_EVENTS_FUNNEL = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END)     AS t_view,
         min(CASE WHEN event_type = 'click' THEN ts END)    AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_viewed,
       CAST(sum(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT)   AS n_clicked_after_view,
       CAST(sum(CASE WHEN t_click > t_view AND t_purchase > t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_purchased_after_click
FROM per_user
"""


QUERIES["events_funnel"] = events_funnel
ORACLE["events_funnel"] = ORACLE_EVENTS_FUNNEL


def events_time_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour rolling aggregate per user — a RANGE frame over
    event time (`rangeBetween` on integer microseconds), the window
    class behind rate-limiting and trailing-feature computation.

    A RANGE frame is defined by order-key *values*, so peer rows with
    equal timestamps all enter the frame — the result is deterministic
    with no tiebreak. One shuffle on user_id; the frame scan is a
    sliding pointer within each sorted partition, O(n) per key.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        pround(F.sum("value").over(w), 4).alias("trailing_1h_sum"),
        F.count(F.lit(1)).over(w).alias("trailing_1h_n"),
    )


ORACLE_EVENTS_TIME_RANGE_WINDOW = """
SELECT event_id, user_id,
       floor((sum(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)) * 10000 + 0.5) / 10000.0 AS trailing_1h_sum,
       count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS trailing_1h_n
FROM events
"""


QUERIES["events_time_range_window"] = events_time_range_window
ORACLE["events_time_range_window"] = ORACLE_EVENTS_TIME_RANGE_WINDOW


# ---------------------------------------------------------------------------
# Cohort retention
# ---------------------------------------------------------------------------

#: epoch µs of 2024-01-01T00:00:00Z (events corpus start).
_EPOCH_2024_US = 1_704_067_200_000_000
_WEEK_US = 604_800_000_000


def events_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users cohorted by their *first* event's
    type, activity counted as distinct users per (cohort, week).

    The first-event pick is a row_number window (one shuffle on
    user_id); the activity join re-uses that same user_id partitioning
    so Catalyst can reuse the exchange. DISTINCT before the final agg
    keeps the count per cell exact without a countDistinct over the
    raw event stream."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firsts = (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("cohort"))
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort",
            F.floor((us - F.lit(_EPOCH_2024_US)) / F.lit(_WEEK_US))
            .cast("int")
            .alias("week_no"),
        )
        .distinct()
    )
    return activity.groupBy("cohort", "week_no").agg(
        F.count(F.lit(1)).alias("active_users")
    )


ORACLE_EVENTS_RETENTION = f"""
WITH firsts AS (
  SELECT user_id, event_type AS cohort
  FROM events
  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) = 1),
activity AS (
  SELECT DISTINCT e.user_id, f.cohort,
         CAST(floor((epoch_us(e.ts) - {_EPOCH_2024_US}) / {_WEEK_US}) AS INTEGER) AS week_no
  FROM events e JOIN firsts f USING (user_id))
SELECT cohort, week_no, count(*) AS active_users
FROM activity GROUP BY cohort, week_no
"""


QUERIES["events_retention_cohort"] = events_retention_cohort
ORACLE["events_retention_cohort"] = ORACLE_EVENTS_RETENTION


# ---------------------------------------------------------------------------
# Rolling z-score anomaly detection
# ---------------------------------------------------------------------------

def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling z-score outlier flags: each event scored
    against the mean/stddev of its previous ≤20 events (ROWS frame
    ending at 1 PRECEDING, so the current value never contaminates its
    own baseline). One shuffle on user_id; the frame is a sliding
    scan within each sorted partition.

    Exactness discipline (round 14, the ``events_rolling_trend``
    pattern): the 2-dp values enter the frame as INTEGER CENTS, so
    the three frame moments (n, Σy_c, Σy_c²) are exact integers
    regardless of how each engine evaluates the sliding frame (Spark
    re-scans; DuckDB's segment tree would order a float accumulation
    differently).  mean = Σy_c/(100n) and the sample stddev
    √((nΣy_c²−(Σy_c)²)/(n(n−1)))/100 are then single double
    operations over identical integers, 6-dp floored on both sides
    before the z division.  Exact while a frame's Σy_c² stays inside
    int64 — at most 21·(100·max|value|)², far below 2^63 for any
    realistic event value."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us, "event_id")
        .rowsBetween(-20, -1)
    )
    st = (
        ev.withColumn("yc", quantn(F.col("value"), 2))
        .select(
            "event_id",
            "user_id",
            "value",
            F.count(F.lit(1)).over(w).alias("n_prev"),
            F.sum("yc").over(w).alias("s1"),
            F.sum(F.col("yc") * F.col("yc")).over(w).alias("s2"),
        )
        .where(F.col("n_prev") >= 5)
    )
    mu = pround(F.col("s1") / (F.col("n_prev") * F.lit(100)), 6)
    var_num = (
        F.col("n_prev") * F.col("s2") - F.col("s1") * F.col("s1")
    ).cast("double")
    var_den = (F.col("n_prev") * (F.col("n_prev") - F.lit(1))).cast("double")
    sd = pround(F.sqrt(var_num / var_den) / F.lit(100.0), 6)
    scored = st.select(
        "event_id",
        "user_id",
        "value",
        mu.alias("mu"),
        sd.alias("sd"),
    ).where(F.col("sd") > 0)
    z = pround((F.col("value") - F.col("mu")) / F.col("sd"), 4)
    return scored.select(
        "event_id",
        "user_id",
        z.alias("z"),
        (F.abs(z) > 3.0).alias("is_anomaly"),
    )


ORACLE_EVENTS_ANOMALY_ZSCORE = """
WITH framed AS (
  SELECT event_id, user_id, value,
         count(*) OVER w AS n_prev,
         sum(yc) OVER w AS s1,
         sum(yc * yc) OVER w AS s2
  FROM (SELECT *, CAST(floor(value * 100 + 0.5) AS BIGINT) AS yc FROM events)
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
stats AS (
  SELECT event_id, user_id, value,
         floor(s1 / (n_prev * 100) * 1000000 + 0.5) / 1000000.0 AS mu,
         floor(sqrt(CAST(n_prev * s2 - s1 * s1 AS DOUBLE)
                    / CAST(n_prev * (n_prev - 1) AS DOUBLE)) / 100.0
               * 1000000 + 0.5) / 1000000.0 AS sd
  FROM framed WHERE n_prev >= 5)
SELECT event_id, user_id,
       floor((value - mu) / sd * 10000 + 0.5) / 10000.0 AS z,
       abs(floor((value - mu) / sd * 10000 + 0.5) / 10000.0) > 3.0 AS is_anomaly
FROM stats WHERE sd > 0
"""


QUERIES["events_anomaly_zscore"] = events_anomaly_zscore
ORACLE["events_anomaly_zscore"] = ORACLE_EVENTS_ANOMALY_ZSCORE


_DAY_US = 86_400_000_000


def events_wau_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling 7-day active users (WAU) for high-value purchase
    activity. Rolling *distinct* counts can't use a range frame
    (DISTINCT isn't frame-mergeable), so each (day, user) pair is
    exploded map-side into the ≤7 window-days it contributes to, and
    one distinct-agg per window-day finishes the job — shuffle volume
    is 7× the *daily-distinct* pairs (tiny), never 7× the raw events.
    The alternative people reach for — self-joining the event table
    against a day grid — shuffles raw events and dies at scale."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    day = F.floor((us - F.lit(_EPOCH_2024_US)) / F.lit(_DAY_US)).cast("int")
    du = (
        ev.where((F.col("event_type") == "purchase") & (F.col("value") > 140))
        .select(day.alias("day"), "user_id")
        .distinct()
    )
    mx = du.agg(F.max("day").alias("max_day"))
    contrib = du.crossJoin(F.broadcast(mx)).select(
        F.explode(F.expr("sequence(day, least(day + 6, max_day))")).alias("wday"),
        "user_id",
    )
    return (
        contrib.where(F.col("wday") >= 6)
        .groupBy(F.col("wday").alias("day"))
        .agg(F.countDistinct("user_id").alias("wau"))
    )


ORACLE_EVENTS_WAU = f"""
WITH day_users AS (
  SELECT DISTINCT CAST(floor((epoch_us(ts) - {_EPOCH_2024_US}) / {_DAY_US}) AS INTEGER) AS day,
         user_id
  FROM events WHERE event_type = 'purchase' AND value > 140),
bounds AS (SELECT max(day) AS max_day FROM day_users),
contrib AS (
  SELECT unnest(generate_series(day, least(day + 6, (SELECT max_day FROM bounds)))) AS wday,
         user_id
  FROM day_users)
SELECT CAST(wday AS INTEGER) AS day, count(DISTINCT user_id) AS wau
FROM contrib WHERE wday >= 6
GROUP BY wday
"""


QUERIES["events_wau_rolling"] = events_wau_rolling
ORACLE["events_wau_rolling"] = ORACLE_EVENTS_WAU


def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: lag() pairs each event with its predecessor (one
    shuffle on user_id), then a global pair count and a per-source
    normalization give P(next | prev). The probability divides two
    exact integer counts, so it is bit-identical across engines with
    no rounding needed — the pattern for any sequence-mining op
    (next-action prediction, session flow graphs) at scale.

    Optimization r19 (guide §2.4): the per-source total is a window
    sum over the (|types|²-bounded) pair-count relation instead of a
    groupBy + broadcast join — the old plan duplicated the whole
    scan → lag-window → pair-aggregate lineage into the totals
    branch (2 scans, 2 user_id exchanges, 2 Windows in the static
    plan); one lineage remains, and the only added node is a sort of
    the tiny pair relation.  p divides the same exact integers."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(us, "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("next_type"),
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wt = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n") / F.sum("n").over(wt)).alias("p"),
    )


ORACLE_EVENTS_MARKOV = """
WITH pairs AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n
  FROM (
    SELECT event_type,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY epoch_us(ts), event_id) AS prev_type
    FROM events)
  WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type),
totals AS (
  SELECT prev_type, CAST(sum(n) AS BIGINT) AS total FROM pairs GROUP BY prev_type)
SELECT prev_type, next_type, n, n / total AS p
FROM pairs JOIN totals USING (prev_type)
"""


QUERIES["events_markov_transitions"] = events_markov_transitions
ORACLE["events_markov_transitions"] = ORACLE_EVENTS_MARKOV


def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency/frequency/monetary quintiles
    (ntile over deterministic total orders) cross-tabulated into
    segment cells. The windows run over the *aggregated* per-customer
    relation — orders of magnitude smaller than the fact table — and
    the three ntiles are melted into ONE metric-partitioned window so
    the plan has a single Window node whose partition-local sorts run
    in parallel. At extreme scale (billions of customers) exact ntile
    would yield to approx-percentile boundary joins, trading exact
    equal-count semantics for parallelism; at any realistic customer
    cardinality this exact formulation is the right plan. Monetary is
    rounded to cents before ranking so tier assignment is
    engine-identical."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.unix_micros(F.col("o_orderdate").cast("timestamp"))).alias(
            "last_us"
        ),
        F.count(F.lit(1)).alias("frequency"),
        pround(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    # One Window node, not three: melt (metric, value) so the three
    # exact ntiles share a single metric-PARTITIONED window — three
    # partition-local sorts running in parallel instead of three
    # sequential single-partition passes over the whole relation.
    # Values ride one double column (epoch-µs < 2^53, counts and
    # cent-rounded sums exact in double), ties broken by custkey as
    # before, then a custkey pivot-back re-assembles the tier triple.
    melted = per_cust.select(
        "custkey",
        "monetary",
        F.explode(
            F.array(
                F.struct(
                    F.lit("r").alias("metric"),
                    F.col("last_us").cast("double").alias("v"),
                ),
                F.struct(
                    F.lit("f").alias("metric"),
                    F.col("frequency").cast("double").alias("v"),
                ),
                F.struct(
                    F.lit("m").alias("metric"),
                    F.col("monetary").cast("double").alias("v"),
                ),
            )
        ).alias("mv"),
    ).select(
        "custkey", "monetary", F.col("mv.metric").alias("metric"), F.col("mv.v").alias("v")
    )
    w = Window.partitionBy("metric").orderBy(F.desc("v"), F.asc("custkey"))
    tiered = melted.select(
        "custkey", "monetary", "metric", F.ntile(5).over(w).alias("tier")
    )
    tiers = tiered.groupBy("custkey").agg(
        F.max(F.when(F.col("metric") == "r", F.col("tier"))).alias("r_tier"),
        F.max(F.when(F.col("metric") == "f", F.col("tier"))).alias("f_tier"),
        F.max(F.when(F.col("metric") == "m", F.col("tier"))).alias("m_tier"),
        F.max("monetary").alias("monetary"),
    )
    # avg over exact integer cents, not doubles: a double SUM is
    # float-order-dependent across partitionings, and at a ±1ulp
    # rounding boundary the cent digit flips between engines. The
    # long sum is exact, so sum/n is the same double everywhere.
    cents = F.floor(F.col("monetary") * 100 + F.lit(0.5)).cast("long")
    return tiers.groupBy("r_tier", "f_tier", "m_tier").agg(
        F.count(F.lit(1)).alias("n_customers"),
        (
            F.floor(F.sum(cents) / F.count(F.lit(1)) + F.lit(0.5)) / 100.0
        ).alias("avg_monetary"),
    )


ORACLE_EVENTS_RFM = """
WITH per_cust AS (
  SELECT o_custkey AS custkey,
         max(epoch_us(o_orderdate)) AS last_us,
         count(*) AS frequency,
         floor(sum(o_totalprice) * 100 + 0.5) / 100.0 AS monetary
  FROM orders GROUP BY o_custkey),
tiers AS (
  SELECT monetary,
         CAST(ntile(5) OVER (ORDER BY last_us DESC, custkey) AS INTEGER) AS r_tier,
         CAST(ntile(5) OVER (ORDER BY frequency DESC, custkey) AS INTEGER) AS f_tier,
         CAST(ntile(5) OVER (ORDER BY monetary DESC, custkey) AS INTEGER) AS m_tier
  FROM per_cust)
SELECT r_tier, f_tier, m_tier, count(*) AS n_customers,
       floor(sum(CAST(floor(monetary * 100 + 0.5) AS BIGINT)) * 1.0
             / count(*) + 0.5) / 100.0 AS avg_monetary
FROM tiers GROUP BY r_tier, f_tier, m_tier
"""


QUERIES["events_rfm_segmentation"] = events_rfm_segmentation
ORACLE["events_rfm_segmentation"] = ORACLE_EVENTS_RFM


# ---------------------------------------------------------------------------
# Hourly OHLC rollup (time-series candlesticks)
# ---------------------------------------------------------------------------

def events_hourly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour open/high/low/close of ``value`` — the candlestick
    rollup every metering/market pipeline runs, and in streaming form
    the canonical tumbling-window aggregate.

    Open/close are the first/last values under the total order
    (ts, event_id); two opposite-direction ``row_number`` windows pick
    them deterministically (timestamp ties broken by event_id), then a
    single hash aggregate finishes min/max/count.  One shuffle on the
    hour key; the windows sort within hour partitions only — no global
    sort.  No float arithmetic happens, so the oracle needs no
    rounding: every output value is an exact input double."""
    ev = load_table(spark, sf_dir, "events")
    hr = F.date_trunc("hour", F.col("ts"))
    wa = Window.partitionBy("hr").orderBy(F.asc("ts"), F.asc("event_id"))
    wd = Window.partitionBy("hr").orderBy(F.desc("ts"), F.desc("event_id"))
    ranked = ev.select(hr.alias("hr"), "ts", "event_id", "value").select(
        "hr",
        "value",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wd).alias("rd"),
    )
    return ranked.groupBy("hr").agg(
        F.max(F.when(F.col("ra") == 1, F.col("value"))).alias("open_v"),
        F.max("value").alias("high_v"),
        F.min("value").alias("low_v"),
        F.max(F.when(F.col("rd") == 1, F.col("value"))).alias("close_v"),
        F.count(F.lit(1)).alias("n_events"),
    )


ORACLE_EVENTS_HOURLY_OHLC = """
WITH ranked AS (
  SELECT date_trunc('hour', ts) AS hr, value,
         row_number() OVER (PARTITION BY date_trunc('hour', ts)
                            ORDER BY epoch_us(ts) ASC, event_id ASC) AS ra,
         row_number() OVER (PARTITION BY date_trunc('hour', ts)
                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rd
  FROM events
)
SELECT hr,
       max(CASE WHEN ra = 1 THEN value END) AS open_v,
       max(value) AS high_v,
       min(value) AS low_v,
       max(CASE WHEN rd = 1 THEN value END) AS close_v,
       count(*) AS n_events
FROM ranked GROUP BY hr
"""


QUERIES["events_hourly_ohlc"] = events_hourly_ohlc
ORACLE["events_hourly_ohlc"] = ORACLE_EVENTS_HOURLY_OHLC


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters (mergeable frequency sketch)
# ---------------------------------------------------------------------------

#: Count-min geometry: depth (independent hash rows) × width (cells).
#: Width is deliberately small so hash collisions are *possible* and
#: the min-over-rows estimate is doing real work; estimates are still
#: exact whenever at least one row is collision-free for a key.
_CMS_DEPTH = 3
_CMS_WIDTH = 16


def _cms_cell_sql(key_col: str, depth: int) -> str:
    """DuckDB-portable cell index for one sketch row: first 4 hex
    chars of md5(key + '#' + depth), mod width (instr-sum — DuckDB
    has no conv; see ``_hex_to_int_sql``)."""
    from parquet_stream_writer_spark.operators.dedup import _hex4_to_int_sql

    digest = f"md5(concat({key_col}, '#{depth}'))"
    return f"({_hex4_to_int_sql(digest)} % {_CMS_WIDTH})"


def _cms_cell_expr(key_col: str, depth: int) -> str:
    """Spark-side cell index: same VALUE as :func:`_cms_cell_sql` via
    the conv() fast path — one md5 evaluation per row instead of one
    per hex digit (see dedup._hex_prefix_int)."""
    return (
        f"(cast(conv(substring(md5(concat({key_col}, '#{depth}')), 1, 4), 16, 10)"
        f" as bigint) % {_CMS_WIDTH})"
    )


def _cms_hash_case_expr(key_col: str):
    return F.expr(
        "CASE "
        + " ".join(
            f"WHEN depth = {d} THEN {_cms_cell_expr(key_col, d)}"
            for d in range(_CMS_DEPTH)
        )
        + " END"
    )


def cms_cells(keys: DataFrame, key_col: str = "event_type") -> DataFrame:
    """The mergeable half of the count-min sketch: (depth, cell, c)
    cell counts for a batch (or micro-batch) of keys. Two sketches
    merge by summing ``c`` on (depth, cell) — the streaming tests
    foreachBatch-accumulate partial sketches and assert equality with
    the single-pass batch sketch."""
    depths = F.explode(F.array(*[F.lit(d) for d in range(_CMS_DEPTH)])).alias("depth")
    return (
        keys.select(key_col, depths)
        .select("depth", _cms_hash_case_expr(key_col).alias("cell"))
        .groupBy("depth", "cell")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def events_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over ``event_type`` frequencies, audited
    against exact counts: build the d×w cell-count sketch, then
    estimate each key's frequency as the min over its d cells.

    The sketch build is ONE partial+final hash aggregate over (depth,
    cell) — d·w counters total, mergeable across partitions, executors
    and days by plain addition, which is the whole point of a CMS in a
    100 TB pipeline (the sketch is bytes; the stream is never
    re-read). The probe side joins the distinct keys (already an
    aggregate, tiny) to the sketch cells and takes the min — both
    joins are broadcast-sized. Overcount = estimate − exact is the
    standard CMS error audit (always ≥ 0; > 0 iff every row hashed the
    key into a collision)."""
    ev = load_table(spark, sf_dir, "events").select("event_type")
    cells = cms_cells(ev)
    exact = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("exact_count")
    )
    probes = exact.select(
        "event_type",
        "exact_count",
        F.explode(F.array(*[F.lit(d) for d in range(_CMS_DEPTH)])).alias("depth"),
    ).select(
        "event_type",
        "exact_count",
        "depth",
        _cms_hash_case_expr("event_type").alias("cell"),
    )
    est = (
        probes.join(F.broadcast(cells), ["depth", "cell"])
        .groupBy("event_type", "exact_count")
        .agg(F.min("c").alias("cms_estimate"))
    )
    return est.select(
        "event_type",
        "exact_count",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("exact_count")).alias("overcount"),
    )


def _oracle_cms() -> str:
    cell_exprs = " UNION ALL ".join(
        f"SELECT event_type, {d} AS depth, {_cms_cell_sql('event_type', d)} AS cell FROM events"
        for d in range(_CMS_DEPTH)
    )
    return f"""
WITH keyed AS ({cell_exprs}),
cells AS (
  SELECT depth, cell, CAST(count(*) AS BIGINT) AS c
  FROM keyed GROUP BY depth, cell
),
exact AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS exact_count
  FROM events GROUP BY event_type
),
probes AS (
  SELECT DISTINCT event_type, depth, cell FROM keyed
),
est AS (
  SELECT p.event_type, min(c.c) AS cms_estimate
  FROM probes p JOIN cells c USING (depth, cell)
  GROUP BY p.event_type
)
SELECT e.event_type, e.exact_count, s.cms_estimate,
       s.cms_estimate - e.exact_count AS overcount
FROM exact e JOIN est s USING (event_type)
"""


QUERIES["events_heavy_hitters_cms"] = events_heavy_hitters_cms
ORACLE["events_heavy_hitters_cms"] = _oracle_cms()


# ---------------------------------------------------------------------------
# Touch attribution (first/last non-purchase touch before each purchase)
# ---------------------------------------------------------------------------

def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch attribution: for every ``purchase``
    event, which event type opened the user's journey and which one
    immediately preceded the purchase, plus how many prior touches the
    journey had.

    One window over (user, time) with a ``[unbounded, -1]`` ROWS frame
    — the purchase row itself is excluded by the frame, not a
    self-join — and prior purchases are excluded from the journey by
    null-masking them under ``first/last(..., ignorenulls)`` rather
    than filtering (filtering would also shift the frame). Partitions
    are per-user (no skew beyond a user's own history); ordering ties
    break on ``event_id`` so both engines pick the same rows at
    µs-identical timestamps.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    return (
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
            F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
            F.count(touch).over(w).cast("long").alias("n_touches"),
        )
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "first_touch", "last_touch", "n_touches")
    )


ORACLE_EVENTS_ATTRIBUTION = """
WITH ordered AS (
  SELECT event_id, user_id, event_type,
         first_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                     IGNORE NULLS) OVER w AS first_touch,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS) OVER w AS last_touch,
         CAST(count(CASE WHEN event_type <> 'purchase' THEN event_type END)
              OVER w AS BIGINT) AS n_touches
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, first_touch, last_touch, n_touches
FROM ordered WHERE event_type = 'purchase'
"""


QUERIES["events_attribution"] = events_attribution
ORACLE["events_attribution"] = ORACLE_EVENTS_ATTRIBUTION


# ---------------------------------------------------------------------------
# Windowed event dedup (batch twin of dropDuplicatesWithinWatermark)
# ---------------------------------------------------------------------------

def events_windowed_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduplicate events by (user, type) within each 1-hour tumbling
    window — the batch twin of streaming
    ``dropDuplicatesWithinWatermark``: a replayed/at-least-once feed
    keeps one event per key per window instead of one per key forever
    (which would need unbounded state). Keeps the earliest event per
    (window, user, type), deterministic via (ts, event_id) ordering;
    reports per-window kept/duplicate counts.

    One shuffle on the (window, user, type) key; the window bound is
    what makes the streaming-state version O(keys per window) instead
    of O(all keys ever)."""
    ev = load_table(spark, sf_dir, "events")
    hr = F.date_trunc("hour", F.col("ts"))
    w = Window.partitionBy(hr, "user_id", "event_type").orderBy("ts", "event_id")
    ranked = ev.withColumn("rk", F.row_number().over(w))
    return ranked.groupBy(hr.alias("w_start")).agg(
        F.sum((F.col("rk") == 1).cast("long")).alias("n_kept"),
        F.sum((F.col("rk") > 1).cast("long")).alias("n_dups"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


ORACLE_EVENTS_WINDOWED_DEDUP = """
WITH ranked AS (
  SELECT date_trunc('hour', ts) AS w_start,
         row_number() OVER (PARTITION BY date_trunc('hour', ts), user_id, event_type
                            ORDER BY epoch_us(ts), event_id) AS rk
  FROM events)
SELECT w_start,
       CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
       CAST(count(*) AS BIGINT) AS n_events
FROM ranked GROUP BY w_start
"""


QUERIES["events_windowed_dedup"] = events_windowed_dedup
ORACLE["events_windowed_dedup"] = ORACLE_EVENTS_WINDOWED_DEDUP


# ---------------------------------------------------------------------------
# Fixed-width value histogram
# ---------------------------------------------------------------------------

#: Histogram bin width / top bin index for the events value histogram.
_HIST_WIDTH = 50.0
_HIST_MAX_BIN = 9


def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of ``value`` per event type, with each
    bin's share of its type — the one-pass distribution profile a
    monitoring dashboard reads.

    The bin index is computed with explicit ``floor(value / width)``
    arithmetic (one IEEE-754 division + floor, bit-identical across
    engines) instead of an engine ``width_bucket``, whose boundary
    formula is implementation-defined.  One hash aggregate keyed on
    (type, bin) — partial-aggregated map-side, so the shuffle carries
    at most types × bins rows per task regardless of input size; the
    share is a window over the tiny aggregate, not the raw data.
    """
    ev = load_table(spark, sf_dir, "events")
    binned = ev.withColumn(
        "bin",
        F.least(
            F.floor(F.col("value") / _HIST_WIDTH),
            F.lit(_HIST_MAX_BIN).cast("long"),
        ),
    )
    agg = binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("n_events"),
        pround(F.sum("value"), 2).alias("sum_value"),
    )
    w = Window.partitionBy("event_type")
    return (
        agg.withColumn(
            "share", pround(F.col("n_events") / F.sum("n_events").over(w), 4)
        )
        .select(
            "event_type",
            "bin",
            (F.col("bin") * _HIST_WIDTH).alias("bin_lo"),
            ((F.col("bin") + 1) * _HIST_WIDTH).alias("bin_hi"),
            "n_events",
            "sum_value",
            "share",
        )
        .orderBy("event_type", "bin")
    )


ORACLE_EVENTS_VALUE_HISTOGRAM = f"""
WITH binned AS (
  SELECT event_type,
         least(CAST(floor(value / {_HIST_WIDTH}) AS BIGINT), {_HIST_MAX_BIN}) AS bin,
         value
  FROM events
),
agg AS (
  SELECT event_type, bin,
         count(*) AS n_events,
         floor((sum(value)) * 100 + 0.5) / 100.0 AS sum_value
  FROM binned GROUP BY event_type, bin
)
SELECT event_type, bin,
       bin * {_HIST_WIDTH} AS bin_lo,
       (bin + 1) * {_HIST_WIDTH} AS bin_hi,
       n_events, sum_value,
       floor((n_events * 1.0 / sum(n_events) OVER (PARTITION BY event_type)) * 10000 + 0.5) / 10000.0 AS share
FROM agg
ORDER BY event_type, bin
"""


QUERIES["events_value_histogram"] = events_value_histogram
ORACLE["events_value_histogram"] = ORACLE_EVENTS_VALUE_HISTOGRAM


# ---------------------------------------------------------------------------
# Top event-type paths (sequential trigrams)
# ---------------------------------------------------------------------------

#: Result size for the global top-paths report.
_TOP_PATHS = 10


def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The most common 3-step event-type paths across all user
    journeys — the sequential-pattern report product teams read next
    to the Markov transition matrix (which only sees single steps).

    Per-user ordering is one window shuffle keyed on user_id (the
    same partitioning every per-user op here uses); two ``lag``\\ s
    materialize the trigram map-side, then a global hash count and a
    ``TakeOrderedAndProject`` top-10.  Order ties inside a user
    resolve on event_id so both engines see identical sequences.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        ev.select(
            F.lag("event_type", 2).over(w).alias("e1"),
            F.lag("event_type", 1).over(w).alias("e2"),
            F.col("event_type").alias("e3"),
        )
        .where(F.col("e1").isNotNull())
    )
    counts = tri.groupBy("e1", "e2", "e3").agg(F.count(F.lit(1)).alias("n_paths"))
    return counts.orderBy(
        F.desc("n_paths"), F.asc("e1"), F.asc("e2"), F.asc("e3")
    ).limit(_TOP_PATHS)


ORACLE_EVENTS_TOP_PATHS = f"""
WITH tri AS (
  SELECT lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e1,
         lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
         event_type AS e3
  FROM events
)
SELECT e1, e2, e3, count(*) AS n_paths
FROM tri WHERE e1 IS NOT NULL
GROUP BY e1, e2, e3
ORDER BY n_paths DESC, e1 ASC, e2 ASC, e3 ASC
LIMIT {_TOP_PATHS}
"""


QUERIES["events_top_paths"] = events_top_paths
ORACLE["events_top_paths"] = ORACLE_EVENTS_TOP_PATHS


# ---------------------------------------------------------------------------
# Inactivity / churn audit
# ---------------------------------------------------------------------------

#: A user is churned when their last event is more than this many days
#: before the corpus's last observed event.
_CHURN_DAYS = 14


def events_inactivity_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment churn report: a user counts as churned when their
    LAST event is more than ``_CHURN_DAYS`` days older than the
    corpus's newest event (the observation horizon) — the standard
    engagement-decay metric over an event stream, sliced by the
    customer dimension.

    Scale shape: one events scan → one hash agg to per-user last-seen
    (map-side combine does most of the work); the observation horizon
    is a 1-row aggregate broadcast to every row (never a second full
    scan); the customer dimension joins broadcast.  Day arithmetic is
    integer-µs subtraction over doubles — identical on both engines;
    no per-timestamp interval math.
    """
    ev = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    last_seen = ev.groupBy("user_id").agg(
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("last_us"),
        F.count(F.lit(1)).alias("n_events"),
    ).localCheckpoint(eager=False)  # horizon + per-user both consume it:
    # without the checkpoint Catalyst re-derives the agg from a second
    # full events scan (on a cluster: persist(DISK_ONLY)).
    horizon = last_seen.agg(F.max("last_us").alias("max_us"))
    per_user = (
        last_seen.crossJoin(F.broadcast(horizon))
        .join(F.broadcast(customer), "user_id")
        .select(
            "c_mktsegment",
            "n_events",
            ((F.col("max_us") - F.col("last_us")) / F.lit(86400000000.0)).alias(
                "days_inactive"
            ),
        )
    )
    return (
        per_user.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n_events").alias("n_events"),
            F.sum(
                F.when(F.col("days_inactive") > _CHURN_DAYS, 1).otherwise(0)
            ).alias("n_churned"),
            pround(F.avg("days_inactive"), 4).alias("avg_days_inactive"),
            pround(F.max("days_inactive"), 4).alias("max_days_inactive"),
        )
        .withColumn("churn_rate", pround(F.col("n_churned") / F.col("n_users"), 4))
        .orderBy("c_mktsegment")
    )


ORACLE_EVENTS_INACTIVITY_CHURN = f"""
WITH last_seen AS (
  SELECT user_id, max(epoch_us(ts)) AS last_us, count(*) AS n_events
  FROM events GROUP BY user_id
),
horizon AS (SELECT max(last_us) AS max_us FROM last_seen),
per_user AS (
  SELECT c.c_mktsegment, l.n_events,
         (h.max_us - l.last_us) / 86400000000.0 AS days_inactive
  FROM last_seen l
  CROSS JOIN horizon h
  JOIN customer c ON l.user_id = c.c_custkey
)
SELECT c_mktsegment,
       count(*) AS n_users,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN days_inactive > {_CHURN_DAYS} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_churned,
       floor(avg(days_inactive) * 10000 + 0.5) / 10000.0 AS avg_days_inactive,
       floor(max(days_inactive) * 10000 + 0.5) / 10000.0 AS max_days_inactive,
       floor((sum(CASE WHEN days_inactive > {_CHURN_DAYS} THEN 1 ELSE 0 END) * 1.0
              / count(*)) * 10000 + 0.5) / 10000.0 AS churn_rate
FROM per_user
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""

QUERIES["events_inactivity_churn"] = events_inactivity_churn
ORACLE["events_inactivity_churn"] = ORACLE_EVENTS_INACTIVITY_CHURN


# ---------------------------------------------------------------------------
# Seasonality profile (hour-of-day × day-of-week grid)
# ---------------------------------------------------------------------------

def events_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity seasonality grid: event volume, unique actors, and
    mean value per (day-of-week, hour-of-day) cell — the load-shape
    profile that sizes streaming capacity and spots bot traffic
    (uniform-by-hour sources are machines).

    All time arithmetic is integer µs floor-division on the epoch —
    no timezone/calendar functions, so Spark and DuckDB can never
    disagree on a bucket.  day 0 = Monday ((epoch_day + 3) % 7; the
    epoch began on a Thursday).  Shape: map-side bucket projection +
    ONE hash agg on a 168-value key; the distinct-user count rides the
    same Expand pass.  Scale: the aggregate is fixed-width regardless
    of corpus size.
    """
    ev = load_table(spark, sf_dir, "events")
    us = "unix_micros(cast(ts as timestamp))"
    return (
        ev.select(
            F.expr(f"({us} div 86400000000 + 3) % 7").alias("dow"),
            F.expr(f"({us} div 3600000000) % 24").alias("hod"),
            "user_id",
            "value",
        )
        .groupBy("dow", "hod")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            # Divide a 2-dp-ROUNDED sum, not avg(): the raw sum's
            # engine-dependent addition order (~1e-9) can land a cell
            # mean exactly on a 4-dp floor boundary (seen at
            # sf0.001), which the driver's exact hash would flag.
            pround(
                pround(F.sum("value"), 2) / F.count(F.lit(1)), 4
            ).alias("avg_value"),
        )
        .orderBy("dow", "hod")
    )


ORACLE_EVENTS_SEASONALITY_PROFILE = """
SELECT (epoch_us(ts) // 86400000000 + 3) % 7 AS dow,
       (epoch_us(ts) // 3600000000) % 24 AS hod,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       floor(((floor(sum(value) * 100 + 0.5) / 100.0) / count(*)) * 10000 + 0.5)
         / 10000.0 AS avg_value
FROM events
GROUP BY 1, 2 ORDER BY 1, 2
"""

QUERIES["events_seasonality_profile"] = events_seasonality_profile
ORACLE["events_seasonality_profile"] = ORACLE_EVENTS_SEASONALITY_PROFILE


# ---------------------------------------------------------------------------
# Engagement-inequality (Gini) audit
# ---------------------------------------------------------------------------

def events_user_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment Gini coefficient of per-user event counts — the
    engagement-inequality measure that tells a sampling pipeline
    whether a handful of power users dominate a slice (Gini → 1)
    before it draws a "representative" sample from it.

    Closed-form rank formula: with counts x₁≤…≤xₙ (ties broken by
    user id), G = 2·Σ i·xᵢ / (n·Σxᵢ) − (n+1)/n.  The rank window is
    PARTITIONED by segment — no global sort, no single-partition
    window; per-user counts come from one events hash agg and the
    segment arrives via the broadcast customer dim.  Scale: state is
    user-relation-sized; every shuffle is keyed.
    """
    ev = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    per_user = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("x"))
        .join(F.broadcast(customer), "user_id")
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.asc("x"), F.asc("user_id"))
    ranked = per_user.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("x").alias("n_events"),
            F.sum(F.col("rk") * F.col("x")).alias("_srx"),
            F.max("x").alias("_mx"),
        )
        .select(
            "c_mktsegment",
            "n_users",
            "n_events",
            pround(
                F.lit(2.0) * F.col("_srx") / (F.col("n_users") * F.col("n_events"))
                - (F.col("n_users") + F.lit(1.0)) / F.col("n_users"),
                6,
            ).alias("gini"),
            pround(F.col("_mx") / F.col("n_events"), 6).alias("max_user_share"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE_EVENTS_USER_GINI = """
WITH per_user AS (
  SELECT e.user_id, c.c_mktsegment, count(*) AS x
  FROM events e JOIN customer c ON e.user_id = c.c_custkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT c_mktsegment, x,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY x ASC, user_id ASC) AS rk
  FROM per_user
)
SELECT c_mktsegment,
       count(*) AS n_users,
       CAST(sum(x) AS BIGINT) AS n_events,
       floor((2.0 * sum(rk * x) / (count(*) * sum(x))
              - (count(*) + 1.0) / count(*)) * 1000000 + 0.5) / 1000000.0 AS gini,
       floor((max(x) * 1.0 / sum(x)) * 1000000 + 0.5) / 1000000.0 AS max_user_share
FROM ranked
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""

QUERIES["events_user_gini"] = events_user_gini
ORACLE["events_user_gini"] = ORACLE_EVENTS_USER_GINI


# ---------------------------------------------------------------------------
# Late-data (watermark-sizing) audit
# ---------------------------------------------------------------------------

def events_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-sizing audit: treating ``event_id`` as arrival order,
    how late does each event's TIMESTAMP arrive behind the
    highest timestamp already seen from that user?  The lateness
    distribution this emits (p50/p90/p99/max seconds, late fraction)
    is exactly the evidence that picks ``withWatermark``'s delay for
    the streaming twins — too small drops data, too large bloats
    state.

    Shape: one scan, one per-user window (running max over arrival
    order — µs integers, no interval arithmetic), one hash agg per
    event type.  The window key is user_id, so no global sort exists;
    percentiles are the exact interpolated aggregate (portable:
    Spark ``percentile`` == DuckDB ``quantile_cont``).
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late = ev.select(
        "event_type",
        ((F.max(us).over(w) - us) / F.lit(1000000.0)).alias("late_s"),
    )
    return (
        late.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("late_s") > 0, 1).otherwise(0)).alias("n_late"),
            pround(
                F.sum(F.when(F.col("late_s") > 0, 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("late_frac"),
            pround(F.expr("percentile(late_s, 0.5)"), 4).alias("p50_late_s"),
            pround(F.expr("percentile(late_s, 0.9)"), 4).alias("p90_late_s"),
            pround(F.expr("percentile(late_s, 0.99)"), 4).alias("p99_late_s"),
            pround(F.max("late_s"), 4).alias("max_late_s"),
        )
        .orderBy("event_type")
    )


ORACLE_EVENTS_LATE_DATA_AUDIT = """
WITH late AS (
  SELECT event_type,
         (max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
                                  ROWS UNBOUNDED PRECEDING)
          - epoch_us(ts)) / 1000000.0 AS late_s
  FROM events
)
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       floor((sum(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) * 1.0 / count(*))
             * 1000000 + 0.5) / 1000000.0 AS late_frac,
       floor(quantile_cont(late_s, 0.5) * 10000 + 0.5) / 10000.0 AS p50_late_s,
       floor(quantile_cont(late_s, 0.9) * 10000 + 0.5) / 10000.0 AS p90_late_s,
       floor(quantile_cont(late_s, 0.99) * 10000 + 0.5) / 10000.0 AS p99_late_s,
       floor(max(late_s) * 10000 + 0.5) / 10000.0 AS max_late_s
FROM late
GROUP BY event_type ORDER BY event_type
"""

QUERIES["events_late_data_audit"] = events_late_data_audit
ORACLE["events_late_data_audit"] = ORACLE_EVENTS_LATE_DATA_AUDIT


# ---------------------------------------------------------------------------
# Interval concurrency (stabbing) peak
# ---------------------------------------------------------------------------

#: Activity-interval length opened by each event.
_CONC_WINDOW_MIN = 30


def events_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent activity per day: every event opens a
    ``_CONC_WINDOW_MIN``-minute activity interval, and the metric is
    the maximum number of simultaneously-open intervals each day —
    the interval-stabbing / max-overlap operator (concurrent
    sessions, simultaneous connections, GPU-slot occupancy).

    Shape: the classic solution is a +1/−1 boundary sweep with a
    GLOBAL time-ordered running sum — a single-partition window that
    dies at 100 TB.  This is the two-level bucketed form: per-HOUR
    net deltas roll up through an hour-bucket-sized cumulative window
    (bounded by the corpus time span, never by event count) into
    per-hour carry-in levels, which broadcast back onto the
    boundaries; the running sum then only ever runs INSIDE an hour
    partition.  A day's peak is the max over its hours of
    max(carry_in, in-hour running level) — the carry_in term covers
    the level standing when a bucket opens (including days whose
    peak is inherited from the previous day).  All-integer
    arithmetic, so ties in the (t, delta) sweep order cannot perturb
    the result.
    """
    ev = load_table(spark, sf_dir, "events").select("ts")
    # Optimization r19 (guide §2.3/§2.4): ONE scan + explode emits both
    # interval boundaries per event — the old two-projection union read
    # (and, with this relation consumed by both the per-hour net
    # aggregate and the boundary-level join below, decoded) the events
    # scan twice per consumer.  Same rows, same types; union order was
    # never observable (everything downstream aggregates or sorts).
    b = (
        ev.select(
            F.explode(
                F.array(
                    F.struct(F.col("ts").alias("t"), F.lit(1).alias("d")),
                    F.struct(
                        (
                            F.col("ts")
                            + F.expr(f"INTERVAL {_CONC_WINDOW_MIN} MINUTES")
                        ).alias("t"),
                        F.lit(-1).alias("d"),
                    ),
                )
            ).alias("td")
        )
        .select(F.col("td.t").alias("t"), F.col("td.d").alias("d"))
        .withColumn("day", F.date_trunc("day", F.col("t")))
        .withColumn("hr", F.date_trunc("hour", F.col("t")))
    )
    net = b.groupBy("hr").agg(F.sum("d").alias("net"))
    wh = Window.orderBy("hr").rowsBetween(Window.unboundedPreceding, -1)
    carry = net.select(
        "hr", F.coalesce(F.sum("net").over(wh), F.lit(0)).alias("carry_in")
    )
    wr = (
        Window.partitionBy("hr")
        .orderBy("t", "d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rows = b.join(F.broadcast(carry), "hr").withColumn(
        "lvl", F.col("carry_in") + F.sum("d").over(wr)
    )
    return (
        rows.groupBy("day")
        .agg(
            F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).alias("n_starts"),
            F.sum(F.when(F.col("d") == -1, 1).otherwise(0)).alias("n_ends"),
            F.max(F.greatest(F.col("lvl"), F.col("carry_in")))
            .cast("long")
            .alias("peak_concurrency"),
        )
        .orderBy("day")
    )


ORACLE_EVENTS_CONCURRENCY_PEAK = f"""
WITH b AS (
  SELECT ts AS t, 1 AS d FROM events
  UNION ALL
  SELECT ts + INTERVAL {_CONC_WINDOW_MIN} MINUTE, -1 FROM events
),
b2 AS (
  SELECT t, d, date_trunc('day', t) AS day, date_trunc('hour', t) AS hr FROM b
),
net AS (SELECT hr, sum(d) AS net FROM b2 GROUP BY 1),
carry AS (
  SELECT hr, coalesce(sum(net) OVER (ORDER BY hr
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS carry_in
  FROM net
),
lvls AS (
  SELECT b2.day, b2.d, carry.carry_in,
         carry.carry_in + sum(b2.d) OVER (PARTITION BY b2.hr ORDER BY b2.t, b2.d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lvl
  FROM b2 JOIN carry ON b2.hr = carry.hr
)
SELECT day,
       CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_starts,
       CAST(sum(CASE WHEN d = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ends,
       CAST(max(greatest(lvl, carry_in)) AS BIGINT) AS peak_concurrency
FROM lvls
GROUP BY day
ORDER BY day
"""

QUERIES["events_concurrency_peak"] = events_concurrency_peak
ORACLE["events_concurrency_peak"] = ORACLE_EVENTS_CONCURRENCY_PEAK


# ---------------------------------------------------------------------------
# Truncated EWMA smoothing
# ---------------------------------------------------------------------------

#: EWMA smoothing factor and truncation depth (contributions beyond
#: the last _EWMA_K observations are < (1-alpha)^K ≈ 2.8% and dropped).
_EWMA_ALPHA = 0.2
_EWMA_K = 16
#: Deterministic user sample for the emitted smoothed series.
_EWMA_USER_MOD = 20


def events_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each user's event
    values, truncated to the last ``_EWMA_K`` observations — the
    smoothing pass behind rate monitoring and anomaly baselines.

    The textbook recursive EWMA is inherently sequential per key; the
    two distributed escapes are (a) the prefix trick
    ``(1-a)^n · Σ x_i (1-a)^(-i)``, which OVERFLOWS once a key's
    history passes a few thousand rows, or (b) this truncated form: a
    BOUNDED ``rowsBetween(-K+1, 0)`` frame collected into a ≤K-element
    array and reduced with weight ``(1-a)^age``, normalized by the
    finite-window weight sum ``(1-(1-a)^n)/a``.  State per row is K
    doubles regardless of history length — no overflow, no sequential
    scan, one user-keyed shuffle.  Emits the deterministic
    ``user_id % _EWMA_USER_MOD == 0`` sample of users.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") % _EWMA_USER_MOD == 0)
        .select("user_id", "event_id", "ts", "value")
    )
    frame = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_EWMA_K - 1), Window.currentRow)
    )
    decay = 1.0 - _EWMA_ALPHA
    smoothed = ev.withColumn("vals", F.collect_list("value").over(frame)).withColumn(
        "ewma",
        F.expr(
            f"aggregate(transform(vals, (x, i) -> "
            f"x * pow({decay!r}, size(vals) - 1 - i)), 0D, (a, x) -> a + x)"
            f" / ((1.0 - pow({decay!r}, size(vals))) / {_EWMA_ALPHA!r})"
        ),
    )
    return smoothed.select(
        "user_id",
        "event_id",
        "value",
        pround("ewma", 4).alias("ewma"),
        pround(F.col("value") - F.col("ewma"), 4).alias("deviation"),
    ).orderBy("user_id", "event_id")


ORACLE_EVENTS_EWMA_SMOOTH = f"""
WITH framed AS (
  SELECT user_id, event_id, value,
         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN {_EWMA_K - 1} PRECEDING AND CURRENT ROW) AS vals
  FROM events
  WHERE user_id % {_EWMA_USER_MOD} = 0
),
sm AS (
  SELECT user_id, event_id, value,
         list_sum(list_transform(vals,
             (x, j) -> x * pow({1.0 - _EWMA_ALPHA!r}, len(vals) - j)))
           / ((1.0 - pow({1.0 - _EWMA_ALPHA!r}, len(vals))) / {_EWMA_ALPHA!r}) AS ewma
  FROM framed
)
SELECT user_id, event_id, value,
       floor(ewma * 10000 + 0.5) / 10000.0 AS ewma,
       floor((value - ewma) * 10000 + 0.5) / 10000.0 AS deviation
FROM sm
ORDER BY user_id, event_id
"""

QUERIES["events_ewma_smooth"] = events_ewma_smooth
ORACLE["events_ewma_smooth"] = ORACLE_EVENTS_EWMA_SMOOTH
