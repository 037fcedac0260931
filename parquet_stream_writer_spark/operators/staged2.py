"""Second staged operator pack — implemented and oracle-tested in
round 7, REGISTERED with the driver in round 8.

Same contract as the first staged pack (operators/staged.py, round 6 →
round 7): every key ships with a DataFrame-first implementation, an
ANSI/DuckDB oracle twin, engine-portable arithmetic (pround / integer
scaling / cross-multiplied comparisons — no floating accumulation
whose order an engine could pick differently), a scale-shape
docstring, and local differential tests
(tests/test_staged2_operators.py).

Round-8 registration record (the round-7 checklist, executed):

1. full battery re-run over all 28 keys FIRST (the 4 late additions
   post-dated the round-7 claims): strict cross-engine replay 28/28
   at sf0.001/0.01/0.1, partition-invariance 28/28, empty-corpus ANSI
   sweep 28/28, adversarial hostile-corpus sweep 28/28 clean,
   brute-force property tests extended to the late keys;
2. ``staged2`` added to ``operators._modules()`` (after ``staged``);
3. ``_STAGED2_NLJ_OK`` folded into the plan sweep's ``_NLJ_OK``
   whitelist in tests/test_plan_introspection.py;
4. staged2 rows folded into SURVEY §2c.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from parquet_stream_writer_spark.functions import pround
from parquet_stream_writer_spark.sources import load_table, scan_parallel

QUERIES: dict = {}
ORACLE: dict = {}


# ---------------------------------------------------------------------------
# ABC (Pareto) classification
# ---------------------------------------------------------------------------

#: Cumulative-revenue-share boundaries for the A / B / C classes.
_ABC_A, _ABC_B = 80, 95
#: Value-range buckets for the distributed cumulative revenue rank
#: (the agg_weighted_median / shard-manifest two-pass convention).
_ABC_BUCKETS = 256


def orders_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classification of parts by lineitem
    revenue: parts are ranked by revenue descending, and the class
    boundary is the cumulative revenue share — class A holds the head
    parts covering the first 80 %, B to 95 %, C the tail.  The
    standing answer to "which 20 % of the catalog earns 80 % of the
    money", and the template for any cumulative-contribution cut.

    Exactness: revenue is exact integer cents (2-dp prices pre-scaled
    before the product with quantity); the cumulative rank is a
    bucketed two-pass prefix sum (fixed ``_ABC_BUCKETS`` value-range
    buckets over the per-part revenue → 256-row bucket-offset window
    → per-bucket partitioned cumsum ordered by (revenue desc,
    partkey)), so no corpus-wide single-partition window; the class
    test cross-multiplies integers (cum·100 ≤ bound·total) — no
    division anywhere before the final reported share.

    Scale: one lineitem shuffle to part grain, one bounded bucket
    window, one part-keyed cumsum, a 3-row final aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        li.select(
            "l_partkey",
            (
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
                * F.col("l_quantity").cast("long")
            ).alias("cents"),
        )
        .groupBy("l_partkey")
        .agg(F.sum("cents").alias("cents"))
    )
    stats = rev.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.sum("cents").alias("total"),
    )
    # Bucket by revenue value DESCENDING so bucket order == rank order.
    b = rev.crossJoin(F.broadcast(stats)).select(
        "l_partkey",
        "cents",
        "total",
        F.least(
            F.lit(_ABC_BUCKETS - 1),
            F.floor(
                (F.col("hi") - F.col("cents"))
                * _ABC_BUCKETS
                / (F.col("hi") - F.col("lo") + 1)
            ).cast("int"),
        ).alias("bkt"),
    )
    totals = b.groupBy("bkt").agg(F.sum("cents").alias("bkt_cents"))
    woff = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "bkt", F.coalesce(F.sum("bkt_cents").over(woff), F.lit(0)).alias("off")
    )
    wcum = (
        Window.partitionBy("bkt")
        .orderBy(F.desc("cents"), F.asc("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        b.join(offsets, "bkt")
        .withColumn("cum", F.col("off") + F.sum("cents").over(wcum))
        .select(
            "l_partkey",
            "cents",
            "total",
            F.when(F.col("cum") * 100 <= F.col("total") * _ABC_A, "A")
            .when(F.col("cum") * 100 <= F.col("total") * _ABC_B, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )
    return (
        cum.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("cents").alias("revenue_cents"),
            pround(F.sum("cents") / F.max("total"), 6).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


ORACLE_ORDERS_ABC_CLASSIFICATION = f"""
WITH rev AS (
  SELECT l_partkey,
         sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             * CAST(l_quantity AS BIGINT)) AS cents
  FROM lineitem GROUP BY l_partkey
),
t AS (SELECT sum(cents) AS total FROM rev),
cum AS (
  SELECT l_partkey, cents, t.total,
         sum(cents) OVER (ORDER BY cents DESC, l_partkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM rev, t
),
classed AS (
  SELECT cents, total,
         CASE WHEN cum * 100 <= total * {_ABC_A} THEN 'A'
              WHEN cum * 100 <= total * {_ABC_B} THEN 'B'
              ELSE 'C' END AS abc_class
  FROM cum
)
SELECT abc_class,
       count(*) AS n_parts,
       CAST(sum(cents) AS BIGINT) AS revenue_cents,
       floor((sum(cents) / CAST(max(total) AS DOUBLE)) * 1000000 + 0.5)
         / 1000000.0 AS revenue_share
FROM classed
GROUP BY abc_class ORDER BY abc_class
"""

QUERIES["orders_abc_classification"] = orders_abc_classification
ORACLE["orders_abc_classification"] = ORACLE_ORDERS_ABC_CLASSIFICATION


# ---------------------------------------------------------------------------
# Backlog aging
# ---------------------------------------------------------------------------

#: Aging-bucket upper bounds in days (the last bucket is open-ended).
_AGING_DAYS = (30, 90, 365)


def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging: orders still in status 'O', bucketed
    by age in days relative to the corpus's observation horizon (the
    max order date) — the 0–30 / 31–90 / 91–365 / 365+ aging report
    every order-management pipeline runs nightly, crossed with order
    priority so expedited backlog stands out.

    Exactness: age is integer epoch-day subtraction (no calendar
    functions); value totals are integer cents.  Shape: one scan with
    a 1-row max-date broadcast (BNLJ-whitelisted scalar), one
    fixed-width (priority × 4 buckets) hash aggregate.
    """
    orders = load_table(spark, sf_dir, "orders")
    day = "unix_micros(cast(o_orderdate as timestamp)) div 86400000000"
    horizon = orders.agg(F.expr(f"max({day})").alias("h"))
    age = F.col("h") - F.expr(day)
    bucket = (
        F.when(age <= _AGING_DAYS[0], F.lit(f"0-{_AGING_DAYS[0]}d"))
        .when(age <= _AGING_DAYS[1], F.lit(f"{_AGING_DAYS[0] + 1}-{_AGING_DAYS[1]}d"))
        .when(age <= _AGING_DAYS[2], F.lit(f"{_AGING_DAYS[1] + 1}-{_AGING_DAYS[2]}d"))
        .otherwise(F.lit(f"{_AGING_DAYS[2]}d+"))
    )
    return (
        orders.where(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(horizon))
        .groupBy(
            F.col("o_orderpriority").alias("priority"), bucket.alias("age_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("backlog_cents"),
            F.max(age).cast("long").alias("oldest_days"),
        )
        .orderBy("priority", "age_bucket")
    )


ORACLE_ORDERS_BACKLOG_AGING = f"""
WITH h AS (
  SELECT max(epoch_us(o_orderdate) // 86400000000) AS h FROM orders
),
aged AS (
  SELECT o_orderpriority AS priority,
         h.h - (epoch_us(o_orderdate) // 86400000000) AS age,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders, h WHERE o_orderstatus = 'O'
)
SELECT priority,
       CASE WHEN age <= {_AGING_DAYS[0]} THEN '0-{_AGING_DAYS[0]}d'
            WHEN age <= {_AGING_DAYS[1]} THEN '{_AGING_DAYS[0] + 1}-{_AGING_DAYS[1]}d'
            WHEN age <= {_AGING_DAYS[2]} THEN '{_AGING_DAYS[1] + 1}-{_AGING_DAYS[2]}d'
            ELSE '{_AGING_DAYS[2]}d+' END AS age_bucket,
       count(*) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS backlog_cents,
       CAST(max(age) AS BIGINT) AS oldest_days
FROM aged
GROUP BY 1, 2 ORDER BY 1, 2
"""

QUERIES["orders_backlog_aging"] = orders_backlog_aging
ORACLE["orders_backlog_aging"] = ORACLE_ORDERS_BACKLOG_AGING


# ---------------------------------------------------------------------------
# Value-range (RANGE BETWEEN) window frame
# ---------------------------------------------------------------------------

#: Trailing-window width in days for the customer spend frame.
_RANGE_FRAME_DAYS = 90


def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-90-day customer spend via a value-based RANGE frame:
    for every order, the count and cent-sum of the same customer's
    orders in the preceding 90 days INCLUDING the current one — the
    window family's value-frame member (the rest of the pack's frames
    are ROWS-based), i.e. "how much has this account spent lately"
    computed at order grain.

    Exactness: the frame bound is integer epoch-days ordered by a
    BIGINT day key, so frame membership is integer comparison in both
    engines (RANGE over timestamps would drag in interval semantics);
    sums are integer cents.  Ties on the same day are IN the frame
    for both engines by RANGE semantics (peers of the current row).
    One customer-keyed shuffle; frame state is bounded by the window
    width.
    """
    orders = load_table(spark, sf_dir, "orders")
    day = F.expr(
        "unix_micros(cast(o_orderdate as timestamp)) div 86400000000"
    ).alias("day")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day")
        .rangeBetween(-_RANGE_FRAME_DAYS, 0)
    )
    base = orders.select(
        "o_custkey",
        "o_orderkey",
        day,
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return (
        base.select(
            "o_custkey",
            "o_orderkey",
            "day",
            F.count(F.lit(1)).over(w).alias("n_trailing"),
            F.sum("cents").over(w).alias("trailing_cents"),
        )
        .orderBy("o_custkey", "day", "o_orderkey")
    )


ORACLE_WINDOW_RANGE_FRAME = f"""
WITH base AS (
  SELECT o_custkey, o_orderkey,
         epoch_us(o_orderdate) // 86400000000 AS day,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
)
SELECT o_custkey, o_orderkey, day,
       count(*) OVER w AS n_trailing,
       CAST(sum(cents) OVER w AS BIGINT) AS trailing_cents
FROM base
WINDOW w AS (PARTITION BY o_custkey ORDER BY day
             RANGE BETWEEN {_RANGE_FRAME_DAYS} PRECEDING AND CURRENT ROW)
ORDER BY o_custkey, day, o_orderkey
"""

QUERIES["window_range_frame"] = window_range_frame
ORACLE["window_range_frame"] = ORACLE_WINDOW_RANGE_FRAME


# ---------------------------------------------------------------------------
# Equal-frequency (equi-depth) histogram
# ---------------------------------------------------------------------------

#: Number of equal-frequency buckets.
_EQUIDEPTH_BUCKETS = 8


def agg_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram of order value: 8 buckets holding (as
    close as rank arithmetic allows) equal row counts — the histogram
    an optimizer or drift monitor wants when the distribution is
    skewed and equal-WIDTH buckets would pile everything into one bin
    (complement of ``events_value_histogram``'s fixed-width form).

    Bucket of a row = floor(((rank−1) · B) / n) over the exact
    integer dense ordering by (cents, orderkey) — pure integer
    arithmetic, no quantile interpolation, engine-identical.  The
    rank is the bucketed two-pass prefix COUNT (fixed 256 value-range
    buckets → bucket-offset window → per-bucket row_number), not a
    global single-partition window.  Reported per bucket: exact row
    count and integer-cents min/max/sum.
    """
    orders = load_table(spark, sf_dir, "orders")
    vals = orders.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    stats = vals.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    b = vals.crossJoin(F.broadcast(stats)).select(
        "o_orderkey",
        "cents",
        "n",
        F.least(
            F.lit(255),
            F.floor(
                (F.col("cents") - F.col("lo")) * 256 / (F.col("hi") - F.col("lo") + 1)
            ).cast("int"),
        ).alias("vb"),
    )
    counts = b.groupBy("vb").agg(F.count(F.lit(1)).alias("c"))
    woff = Window.orderBy("vb").rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.select(
        "vb", F.coalesce(F.sum("c").over(woff), F.lit(0)).alias("off")
    )
    wrn = Window.partitionBy("vb").orderBy("cents", "o_orderkey")
    ranked = (
        b.join(offs, "vb")
        .withColumn("rk", F.col("off") + F.row_number().over(wrn))
        .select(
            "cents",
            F.floor((F.col("rk") - 1) * _EQUIDEPTH_BUCKETS / F.col("n"))
            .cast("int")
            .alias("bucket"),
        )
    )
    return (
        ranked.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("bucket")
    )


ORACLE_AGG_HISTOGRAM_EQUIDEPTH = f"""
WITH vals AS (
  SELECT o_orderkey,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
ranked AS (
  SELECT cents,
         CAST(floor((row_number() OVER (ORDER BY cents, o_orderkey) - 1)
                    * {_EQUIDEPTH_BUCKETS} / count(*) OVER ()) AS INTEGER)
           AS bucket
  FROM vals
)
SELECT bucket,
       count(*) AS n_rows,
       min(cents) AS min_cents,
       max(cents) AS max_cents,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM ranked
GROUP BY bucket ORDER BY bucket
"""

QUERIES["agg_histogram_equidepth"] = agg_histogram_equidepth
ORACLE["agg_histogram_equidepth"] = ORACLE_AGG_HISTOGRAM_EQUIDEPTH


# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------

#: Benford expected first-digit probabilities log10(1 + 1/d), scaled
#: to exact parts-per-million so both engines compare integers.
_BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def agg_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order values — the
    fraud/synthetic-data screen: the leading digit of naturally
    occurring amounts follows log10(1 + 1/d), and a corpus whose
    digits don't is either synthetic, capped, or manipulated.
    Reports, per digit: observed count, expected parts-per-million,
    observed ppm, and the integer ppm excess — NO cross-digit
    statistic is aggregated, so every output value derives from exact
    integers and one literal table (a chi-square over the 9 digits
    would sum floats in engine-chosen order).

    Shape: the digit is map-side string arithmetic on the integer
    cents (first char of the cent value — prices are ≥ 1.00 so the
    leading cent digit IS the leading price digit); one 9-row hash
    aggregate with a 1-row total broadcast.
    """
    orders = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").cast("string"),
        1,
        1,
    ).cast("int")
    counts = orders.groupBy(digit.alias("digit")).agg(
        F.count(F.lit(1)).alias("n")
    )
    total = counts.agg(F.sum("n").alias("t"))
    expected = F.create_map(
        *[F.lit(x) for kv in _BENFORD_PPM.items() for x in kv]
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            expected[F.col("digit")].cast("long").alias("expected_ppm"),
            # floor of the SAME IEEE double division both engines run
            # (a truncating integer div on one side and a double div
            # on the other could disagree by 1 on exact multiples).
            F.floor(F.col("n") * 1000000 / F.col("t")).cast("long").alias(
                "observed_ppm"
            ),
            (
                F.floor(F.col("n") * 1000000 / F.col("t")).cast("long")
                - expected[F.col("digit")].cast("long")
            ).alias("excess_ppm"),
        )
        .orderBy("digit")
    )


_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {ppm}" for d, ppm in sorted(_BENFORD_PPM.items())
)

ORACLE_AGG_BENFORD_AUDIT = f"""
WITH counts AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INTEGER) AS digit,
         count(*) AS n
  FROM orders GROUP BY 1
),
t AS (SELECT sum(n) AS t FROM counts)
SELECT digit,
       n,
       CAST(CASE digit {_BENFORD_CASE} END AS BIGINT) AS expected_ppm,
       CAST(floor(n * 1000000 / t) AS BIGINT) AS observed_ppm,
       CAST(floor(n * 1000000 / t) AS BIGINT)
         - CAST(CASE digit {_BENFORD_CASE} END AS BIGINT) AS excess_ppm
FROM counts, t
ORDER BY digit
"""

QUERIES["agg_benford_audit"] = agg_benford_audit
ORACLE["agg_benford_audit"] = ORACLE_AGG_BENFORD_AUDIT


# ---------------------------------------------------------------------------
# Inter-arrival statistics
# ---------------------------------------------------------------------------


def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type inter-arrival gap distribution: for each user's
    consecutive events of a type, the gap in integer microseconds —
    count, mean, p50 and p90 — the arrival-process profile that sizes
    streaming state timeouts and sessionization gaps.

    Exactness: gaps are exact integer µs (timestamp subtraction on
    unix_micros); the mean divides an exact integer sum
    (rounded-sum-divide is unnecessary — the sum is already integer);
    p50/p90 use the pack's interpolated-percentile parity convention
    computed from exact integer order statistics (two-sided nearest
    ranks + linear interpolation as ONE double expression).

    Shape: one (user, type)-keyed shuffle for the lag, then per-type
    rank windows over the (small) per-type gap relations; a
    fixed-width final aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.expr("unix_micros(cast(ts as timestamp))")
    w = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
    gaps = (
        ev.select("user_id", "event_type", "event_id", us.alias("us"))
        .withColumn("gap", F.col("us") - F.lag("us").over(w))
        .where(F.col("gap").isNotNull())
        .select("event_type", "gap")
    )
    # Optimization r18 (guide §2.4), same rewrite as
    # events_dwell_time_profile: carry the per-type count/sum on the
    # rank window's exchange+sort, pick the four order statistics by
    # an in-row target-rank filter + conditional aggregates — the old
    # 4-join shape re-executed the lag-window lineage per probe.
    # Interpolation arithmetic is expression-tree-identical.
    wt = Window.partitionBy("event_type")
    wr = wt.orderBy("gap")
    ranked = (
        gaps.withColumn("rk", F.row_number().over(wr))
        .withColumn("n", F.count(F.lit(1)).over(wt))
        .withColumn("s", F.sum("gap").over(wt))
    )

    def interp(q: float):
        # rank position h = (n-1)*q (0-based) -> 1-based ranks
        h = (F.col("n") - 1) * F.lit(q)
        lo = F.floor(h).cast("long") + 1
        hi = -F.floor(-h).cast("long") + 1
        frac = h - F.floor(h)
        return lo, hi, frac

    lo50, hi50, frac50 = interp(0.5)
    lo90, hi90, frac90 = interp(0.9)
    picked = ranked.where(
        (F.col("rk") == lo50)
        | (F.col("rk") == hi50)
        | (F.col("rk") == lo90)
        | (F.col("rk") == hi90)
    )
    pct = picked.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max("s").alias("s"),
        F.max(F.when(F.col("rk") == lo50, F.col("gap"))).alias("p50_lo_gap"),
        F.max(F.when(F.col("rk") == hi50, F.col("gap"))).alias("p50_hi_gap"),
        F.max(F.when(F.col("rk") == lo90, F.col("gap"))).alias("p90_lo_gap"),
        F.max(F.when(F.col("rk") == hi90, F.col("gap"))).alias("p90_hi_gap"),
    )
    out = pct.withColumn(
        "p50",
        pround(
            F.col("p50_lo_gap")
            + (F.col("p50_hi_gap") - F.col("p50_lo_gap")) * frac50,
            2,
        ),
    ).withColumn(
        "p90",
        pround(
            F.col("p90_lo_gap")
            + (F.col("p90_hi_gap") - F.col("p90_lo_gap")) * frac90,
            2,
        ),
    )
    return out.select(
        "event_type",
        F.col("n").alias("n_gaps"),
        pround(F.col("s") / F.col("n"), 2).alias("mean_gap_us"),
        F.col("p50").alias("p50_gap_us"),
        F.col("p90").alias("p90_gap_us"),
    ).orderBy("event_type")


ORACLE_EVENTS_INTERARRIVAL_STATS = """
WITH gaps AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER
           (PARTITION BY user_id, event_type
            ORDER BY epoch_us(ts), event_id) AS gap
  FROM events
),
g AS (SELECT event_type, gap FROM gaps WHERE gap IS NOT NULL),
ranked AS (
  SELECT event_type, gap,
         row_number() OVER (PARTITION BY event_type ORDER BY gap) AS rk
  FROM g
),
stats AS (
  SELECT event_type, count(*) AS n, sum(gap) AS s FROM g GROUP BY 1
),
pcts AS (
  SELECT s.event_type, s.n, s.s,
         lo50.gap + (hi50.gap - lo50.gap)
           * ((s.n - 1) * 0.5 - floor((s.n - 1) * 0.5)) AS p50,
         lo90.gap + (hi90.gap - lo90.gap)
           * ((s.n - 1) * 0.9 - floor((s.n - 1) * 0.9)) AS p90
  FROM stats s
  JOIN ranked lo50 ON lo50.event_type = s.event_type
    AND lo50.rk = CAST(floor((s.n - 1) * 0.5) AS BIGINT) + 1
  JOIN ranked hi50 ON hi50.event_type = s.event_type
    AND hi50.rk = CAST(ceil((s.n - 1) * 0.5) AS BIGINT) + 1
  JOIN ranked lo90 ON lo90.event_type = s.event_type
    AND lo90.rk = CAST(floor((s.n - 1) * 0.9) AS BIGINT) + 1
  JOIN ranked hi90 ON hi90.event_type = s.event_type
    AND hi90.rk = CAST(ceil((s.n - 1) * 0.9) AS BIGINT) + 1
)
SELECT event_type,
       n AS n_gaps,
       floor((CAST(s AS DOUBLE) / n) * 100 + 0.5) / 100.0 AS mean_gap_us,
       floor(p50 * 100 + 0.5) / 100.0 AS p50_gap_us,
       floor(p90 * 100 + 0.5) / 100.0 AS p90_gap_us
FROM pcts
ORDER BY event_type
"""

QUERIES["events_interarrival_stats"] = events_interarrival_stats
ORACLE["events_interarrival_stats"] = ORACLE_EVENTS_INTERARRIVAL_STATS


# ---------------------------------------------------------------------------
# Burst detection (trailing-baseline episodes)
# ---------------------------------------------------------------------------

#: Trailing baseline width (observed hour-rows) for the burst test.
_BURST_WINDOW = 24
#: Burst sigma threshold (Poisson): cnt > mean + _BURST_SIGMA*sqrt(mean).
_BURST_SIGMA = 2


def events_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-burst episodes per event type at hour grain: an hour is
    BURSTY when its count exceeds the trailing-24h mean by more than
    ``_BURST_SIGMA`` Poisson standard deviations, and consecutive
    bursty hours merge into one episode (gaps-and-islands) — the
    flash-crowd / incident detector a feed-health monitor runs on
    arrival volumes.  A sigma rule (not a fixed multiplier) keeps the
    detector meaningful across scale: at 100 TB the hourly mean is
    huge and a 2x rule would never fire, while +2σ stays calibrated.

    Exactness: the test is squared into exact integers —
    cnt·bn > bs AND (cnt·bn − bs)² > σ²·bs·bn — no division, no
    sqrt, no float anywhere; episode grouping is integer hour
    arithmetic.  Hours with no preceding baseline are never bursty.

    Shape: hour-grain aggregate (map-side combine), per-type ROWS
    frame over the small hourly relation, gaps-islands window,
    episode aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    hour = F.expr(
        "unix_micros(cast(ts as timestamp)) div 3600000000"
    ).alias("hour")
    hourly = ev.select("event_type", hour).groupBy("event_type", "hour").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wt = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-_BURST_WINDOW, -1)
    )
    excess = F.col("cnt") * F.col("base_n") - F.col("base_sum")
    flagged = hourly.select(
        "event_type",
        "hour",
        "cnt",
        F.sum("cnt").over(wt).alias("base_sum"),
        F.count(F.lit(1)).over(wt).alias("base_n"),
    ).withColumn(
        "bursty",
        F.col("base_n").isNotNull()
        & (F.col("base_n") > 0)
        & (excess > 0)
        & (
            excess * excess
            > F.lit(_BURST_SIGMA * _BURST_SIGMA)
            * F.col("base_sum")
            * F.col("base_n")
        ),
    )
    wseq = Window.partitionBy("event_type").orderBy("hour")
    episodes = (
        flagged.where("bursty")
        .withColumn("grp", F.col("hour") - F.row_number().over(wseq))
        .groupBy("event_type", "grp")
        .agg(
            F.min("hour").alias("start_hour"),
            F.max("hour").alias("end_hour"),
            F.count(F.lit(1)).alias("n_hours"),
            F.max("cnt").alias("peak_count"),
        )
        .select("event_type", "start_hour", "end_hour", "n_hours", "peak_count")
    )
    return episodes.orderBy("event_type", "start_hour")


ORACLE_EVENTS_BURST_DETECTION = f"""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS hour, count(*) AS cnt
  FROM events GROUP BY 1, 2
),
flagged AS (
  SELECT event_type, hour, cnt,
         sum(cnt) OVER w AS base_sum,
         count(*) OVER w AS base_n
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN {_BURST_WINDOW} PRECEDING AND 1 PRECEDING)
),
bursty AS (
  SELECT event_type, hour, cnt,
         row_number() OVER (PARTITION BY event_type ORDER BY hour) AS rn
  FROM flagged
  WHERE base_n IS NOT NULL AND base_n > 0
    AND cnt * base_n - base_sum > 0
    AND (cnt * base_n - base_sum) * (cnt * base_n - base_sum)
        > {_BURST_SIGMA * _BURST_SIGMA} * base_sum * base_n
)
SELECT event_type,
       min(hour) AS start_hour,
       max(hour) AS end_hour,
       count(*) AS n_hours,
       max(cnt) AS peak_count
FROM bursty
GROUP BY event_type, hour - rn
ORDER BY event_type, start_hour
"""

QUERIES["events_burst_detection"] = events_burst_detection
ORACLE["events_burst_detection"] = ORACLE_EVENTS_BURST_DETECTION


# ---------------------------------------------------------------------------
# Event-type audience affinity (pairwise user-overlap Jaccard)
# ---------------------------------------------------------------------------


def events_type_affinity_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between event types: for every unordered type
    pair, the Jaccard similarity of their user sets — "do the people
    who purchase also share?", the cross-feature affinity matrix a
    recommender or funnel designer reads first.

    Exactness: |A∩B| and |A∪B| are exact distinct counts; the ratio
    is ONE double division, 6-dp rounded.  Shape: the (user, type)
    relation is deduped once (one shuffle); the pair intersection is
    a user-keyed self-join restricted to t1 < t2 (each user
    contributes C(k,2) pairs of their own k ≤ T types — bounded by
    the type-universe size, never a cross join); per-type set sizes
    broadcast back onto the T² ≤ 25-row pair relation.
    """
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    sizes = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("sz"))
    a = ut.withColumnRenamed("event_type", "t1")
    b = ut.withColumnRenamed("event_type", "t2")
    inter = (
        a.join(b, "user_id")
        .where(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    s1 = sizes.select(F.col("event_type").alias("t1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("event_type").alias("t2"), F.col("sz").alias("sz2"))
    return (
        inter.join(F.broadcast(s1), "t1")
        .join(F.broadcast(s2), "t2")
        .select(
            "t1",
            "t2",
            "n_both",
            (F.col("sz1") + F.col("sz2") - F.col("n_both")).alias("n_either"),
            pround(
                F.col("n_both")
                / (F.col("sz1") + F.col("sz2") - F.col("n_both")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("t1", "t2")
    )


ORACLE_EVENTS_TYPE_AFFINITY_JACCARD = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
sizes AS (SELECT event_type, count(*) AS sz FROM ut GROUP BY 1),
inter AS (
  SELECT a.event_type AS t1, b.event_type AS t2, count(*) AS n_both
  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT t1, t2, n_both,
       s1.sz + s2.sz - n_both AS n_either,
       floor((CAST(n_both AS DOUBLE) / (s1.sz + s2.sz - n_both)) * 1000000 + 0.5)
         / 1000000.0 AS jaccard
FROM inter
JOIN sizes s1 ON s1.event_type = t1
JOIN sizes s2 ON s2.event_type = t2
ORDER BY t1, t2
"""

QUERIES["events_type_affinity_jaccard"] = events_type_affinity_jaccard
ORACLE["events_type_affinity_jaccard"] = ORACLE_EVENTS_TYPE_AFFINITY_JACCARD

# ---------------------------------------------------------------------------
# Power-user contribution share (top decile with ties)
# ---------------------------------------------------------------------------


def events_power_user_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-decile user concentration per event type: the share of a
    type's events contributed by its most-active 10 % of users
    (ties at the threshold count included) — the "whales" readout
    that decides whether per-user sampling caps are worth building
    (complement of `events_user_gini`, which scores the whole curve).

    Scale shape: the decile threshold is NOT a per-user rank window —
    per-user counts collapse to a (type × distinct-count) HISTOGRAM
    relation (bounded by the count range), the cumulative user/event
    totals are windows over that tiny relation ordered by count
    descending, and the threshold bucket is the one containing the
    ceil(n/10)-th user.  All counts exact integers; the share is ONE
    double division, 6-dp rounded.
    """
    ev = load_table(spark, sf_dir, "events")
    uc = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("cnt"))
    hist = uc.groupBy("event_type", "cnt").agg(
        F.count(F.lit(1)).alias("n_u"),
        (F.count(F.lit(1)) * F.col("cnt")).alias("ev"),
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy(F.desc("cnt"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "event_type",
        "cnt",
        "n_u",
        F.sum("n_u").over(wc).alias("cum_u"),
        F.sum("ev").over(wc).alias("cum_ev"),
    )
    totals = hist.groupBy("event_type").agg(
        F.sum("n_u").alias("n_users"), F.sum("ev").alias("n_events")
    )
    # k = ceil(n_users / 10) as integer arithmetic.
    sel = (
        cum.join(totals, "event_type")
        .where(
            (F.col("cum_u") - F.col("n_u")) * 10 < F.col("n_users") + 9 - (F.col("n_users") + 9) % 10
        )
    )
    # Buckets from the top THROUGH the one containing the k-th user:
    # cum_u - n_u < k  where  k = (n_users + 9) div 10 ... expressed
    # integer-only above via k*10 = n_users+9 - (n_users+9)%10.
    return (
        sel.groupBy("event_type")
        .agg(
            F.max("n_users").alias("n_users"),
            F.max("cum_u").alias("n_top_users"),
            F.min("cnt").alias("threshold_count"),
            F.max("cum_ev").alias("top_events"),
            F.max("n_events").alias("n_events"),
        )
        .select(
            "event_type",
            "n_users",
            "n_top_users",
            "threshold_count",
            "top_events",
            "n_events",
            pround(F.col("top_events") / F.col("n_events"), 6).alias("top_share"),
        )
        .orderBy("event_type")
    )


ORACLE_EVENTS_POWER_USER_SHARE = """
WITH uc AS (
  SELECT event_type, user_id, count(*) AS cnt
  FROM events GROUP BY 1, 2
),
hist AS (
  SELECT event_type, cnt, count(*) AS n_u, count(*) * cnt AS ev
  FROM uc GROUP BY 1, 2
),
cum AS (
  SELECT event_type, cnt, n_u,
         sum(n_u) OVER w AS cum_u,
         sum(ev) OVER w AS cum_ev
  FROM hist
  WINDOW w AS (PARTITION BY event_type ORDER BY cnt DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
totals AS (
  SELECT event_type, sum(n_u) AS n_users, sum(ev) AS n_events
  FROM hist GROUP BY 1
),
sel AS (
  SELECT c.*, t.n_users, t.n_events
  FROM cum c JOIN totals t USING (event_type)
  WHERE (c.cum_u - c.n_u) * 10 < t.n_users + 9 - (t.n_users + 9) % 10
)
SELECT event_type,
       CAST(max(n_users) AS BIGINT) AS n_users,
       CAST(max(cum_u) AS BIGINT) AS n_top_users,
       CAST(min(cnt) AS BIGINT) AS threshold_count,
       CAST(max(cum_ev) AS BIGINT) AS top_events,
       CAST(max(n_events) AS BIGINT) AS n_events,
       floor((CAST(max(cum_ev) AS DOUBLE) / max(n_events)) * 1000000 + 0.5)
         / 1000000.0 AS top_share
FROM sel
GROUP BY event_type
ORDER BY event_type
"""

QUERIES["events_power_user_share"] = events_power_user_share
ORACLE["events_power_user_share"] = ORACLE_EVENTS_POWER_USER_SHARE


# ---------------------------------------------------------------------------
# Growth accounting (new / returning / resurrected)
# ---------------------------------------------------------------------------

#: A user returning after more than this many days is "resurrected".
_GROWTH_GAP_DAYS = 7


def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting of the active-user base: every active
    (user, day) is classified NEW (first day ever), RETURNING (last
    activity within 7 days) or RESURRECTED (a gap longer than 7
    days) — the standard DAU decomposition a growth team reads
    before anything else.

    Exactness: pure integer epoch-day arithmetic over the deduped
    (user, day) relation; one user-keyed shuffle powers both the
    first-day window and the lag.  Output is day-grain fixed width.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.expr(
        "unix_micros(cast(ts as timestamp)) div 86400000000"
    ).alias("day")
    ud = ev.select("user_id", day).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    classed = (
        ud.withColumn("prev_day", F.lag("day").over(w))
        .withColumn(
            "status",
            F.when(F.col("prev_day").isNull(), "new")
            .when(F.col("day") - F.col("prev_day") > _GROWTH_GAP_DAYS, "resurrected")
            .otherwise("returning"),
        )
    )
    return (
        classed.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum((F.col("status") == "new").cast("long")).alias("n_new"),
            F.sum((F.col("status") == "returning").cast("long")).alias(
                "n_returning"
            ),
            F.sum((F.col("status") == "resurrected").cast("long")).alias(
                "n_resurrected"
            ),
        )
        .orderBy("day")
    )


ORACLE_EVENTS_GROWTH_ACCOUNTING = f"""
WITH ud AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
),
classed AS (
  SELECT day,
         CASE
           WHEN lag(day) OVER w IS NULL THEN 'new'
           WHEN day - lag(day) OVER w > {_GROWTH_GAP_DAYS} THEN 'resurrected'
           ELSE 'returning'
         END AS status
  FROM ud
  WINDOW w AS (PARTITION BY user_id ORDER BY day)
)
SELECT day,
       count(*) AS n_active,
       CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       CAST(sum(CASE WHEN status = 'returning' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_returning,
       CAST(sum(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_resurrected
FROM classed
GROUP BY day ORDER BY day
"""

QUERIES["events_growth_accounting"] = events_growth_accounting
ORACLE["events_growth_accounting"] = ORACLE_EVENTS_GROWTH_ACCOUNTING


# ---------------------------------------------------------------------------
# Weekly event-type mix drift (L1 distance)
# ---------------------------------------------------------------------------


def events_type_share_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week drift of the event-type mix: the L1 distance
    between consecutive weeks' type-share vectors — the categorical
    drift gate a data-quality monitor alarms on ("the feed's
    composition changed").

    Exactness discipline: the L1 distance Σ|c_w/N_w − c_p/N_p| is
    computed ENTIRELY in integers via the common denominator —
    Σ|c_w·N_p − c_p·N_w| summed exactly, then ONE double division by
    N_w·N_p, 6-dp rounded.  The (week × type) grid is densified from
    the observed week and type universes (missing cells = 0) so the
    lag is the true previous calendar week.

    Shape: one (week, type) aggregate, a bounded grid cross join
    (weeks × types), a type-keyed lag over the tiny grid, a week
    aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    week = F.expr(
        "unix_micros(cast(ts as timestamp)) div 604800000000"
    ).alias("week")
    wt = ev.select("event_type", week).groupBy("week", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    weeks = wt.select("week").distinct()
    types = wt.select("event_type").distinct()
    grid = (
        weeks.crossJoin(types)
        .join(wt, ["week", "event_type"], "left")
        .select("week", "event_type", F.coalesce("c", F.lit(0)).alias("c"))
    )
    totals = grid.groupBy("week").agg(F.sum("c").alias("n"))
    lag_w = Window.partitionBy("event_type").orderBy("week")
    lagged = (
        grid.join(totals, "week")
        .withColumn("c_prev", F.lag("c").over(lag_w))
        .withColumn("n_prev", F.lag("n").over(lag_w))
        .where(F.col("c_prev").isNotNull())
    )
    num = F.abs(F.col("c") * F.col("n_prev") - F.col("c_prev") * F.col("n"))
    return (
        lagged.groupBy("week")
        .agg(
            F.max("n").alias("n_events"),
            F.max("n_prev").alias("n_prev_events"),
            F.sum(num).alias("l1_num"),
        )
        .where((F.col("n_events") > 0) & (F.col("n_prev_events") > 0))
        .select(
            "week",
            "n_events",
            "n_prev_events",
            pround(
                F.col("l1_num") / (F.col("n_events") * F.col("n_prev_events")), 6
            ).alias("l1_drift"),
        )
        .orderBy("week")
    )


ORACLE_EVENTS_TYPE_SHARE_DRIFT = """
WITH wt AS (
  SELECT epoch_us(ts) // 604800000000 AS week, event_type, count(*) AS c
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT w.week, t.event_type, coalesce(x.c, 0) AS c
  FROM (SELECT DISTINCT week FROM wt) w
  CROSS JOIN (SELECT DISTINCT event_type FROM wt) t
  LEFT JOIN wt x ON x.week = w.week AND x.event_type = t.event_type
),
totals AS (SELECT week, sum(c) AS n FROM grid GROUP BY 1),
lagged AS (
  SELECT g.week, g.event_type, g.c, t.n,
         lag(g.c) OVER w AS c_prev,
         lag(t.n) OVER w AS n_prev
  FROM grid g JOIN totals t USING (week)
  WINDOW w AS (PARTITION BY g.event_type ORDER BY g.week)
)
SELECT week,
       CAST(max(n) AS BIGINT) AS n_events,
       CAST(max(n_prev) AS BIGINT) AS n_prev_events,
       floor((CAST(sum(abs(c * n_prev - c_prev * n)) AS DOUBLE)
              / (max(n) * max(n_prev))) * 1000000 + 0.5) / 1000000.0 AS l1_drift
FROM lagged
WHERE c_prev IS NOT NULL
GROUP BY week
HAVING max(n) > 0 AND max(n_prev) > 0
ORDER BY week
"""

QUERIES["events_type_share_drift"] = events_type_share_drift
ORACLE["events_type_share_drift"] = ORACLE_EVENTS_TYPE_SHARE_DRIFT

# ---------------------------------------------------------------------------
# Nearest-centroid classifier (embedding-quality confusion matrix)
# ---------------------------------------------------------------------------


def similarity_centroid_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid (Rocchio) classification audit of the
    embedding space: every vector is assigned to the label whose
    centroid it is most cosine-similar to, and the confusion matrix
    (true label × assigned label, with counts) is reported — the
    fastest "are these embeddings linearly separable by class" check
    a training-data pipeline runs before spending on a probe model.

    Exactness: per-dimension centroids are MEAN components rounded to
    the 1e6 integer grid (c6 = floor(sum(v6)/n + 0.5) — sum and count
    are exact integers, the single division is the same IEEE double in
    both engines, so c6 is bit-identical), the vector·centroid dot
    product is an exact INTEGER sum (order-free), and the per-label
    score is dot / sqrt(Σ c6²) — one deterministic sqrt + division per
    (vector, label); argmax ties break on the smaller label.  Mean (not
    sum) centroids keep every intermediate inside int64 regardless of
    per-label population: c6 stays on the component scale (~1e6-1e7),
    so cn2 ≤ d·c6² ≈ 6e16 and each dot ≤ d·|v6|·|c6| ≈ 6e16 — no
    overflow at any corpus size (sum-centroids overflowed cn2 past
    ~3k same-sign vectors per label; ADVICE r7).

    Shape: posexplode to (vec, dim) rows, a dim-keyed join against
    the 640-row centroid relation (broadcast), one integer hash
    aggregate per (vec, label), an argmax window keyed by vec, a
    fixed-width confusion aggregate.  At 1e9 vectors the same
    centroid relation broadcasts and the expansion stays map-side;
    the dense-algebra lane (Arrow GEMM, similarity_pair_topk's
    kernel) is the constant-factor upgrade, traded here for
    integer-exact oracle parity.
    """
    emb = scan_parallel(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"), "label"
    )
    vd = emb.select(
        "vec_id",
        "label",
        F.posexplode("emb").alias("dim", "v"),
    ).select(
        "vec_id",
        "label",
        "dim",
        F.floor(F.col("v") * 1000000 + F.lit(0.5)).cast("long").alias("v6"),
    )
    cents = vd.groupBy(F.col("label").alias("clabel"), "dim").agg(
        F.floor(F.sum("v6") / F.count(F.lit(1)) + F.lit(0.5))
        .cast("long")
        .alias("c6")
    )
    cnorm = cents.groupBy("clabel").agg(
        F.sum(F.col("c6") * F.col("c6")).alias("cn2")
    )
    scores = (
        vd.join(F.broadcast(cents), "dim")
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sum(F.col("v6") * F.col("c6")).alias("dot"))
        .join(F.broadcast(cnorm), "clabel")
        .select(
            "vec_id",
            "label",
            "clabel",
            (F.col("dot") / F.sqrt(F.col("cn2").cast("double"))).alias("score"),
        )
    )
    wbest = Window.partitionBy("vec_id").orderBy(
        F.desc("score"), F.asc("clabel")
    )
    assigned = (
        scores.withColumn("rk", F.row_number().over(wbest))
        .where(F.col("rk") == 1)
        .select("label", F.col("clabel").alias("predicted"))
    )
    return (
        assigned.groupBy("label", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("label", "predicted")
    )


ORACLE_SIMILARITY_CENTROID_CLASSIFIER = """
WITH vd AS (
  SELECT vec_id, label,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
              AS BIGINT) AS v6
  FROM embeddings
),
cents AS (
  SELECT label AS clabel, dim,
         CAST(floor(sum(v6) / count(*) + 0.5) AS BIGINT) AS c6
  FROM vd GROUP BY 1, 2
),
cnorm AS (SELECT clabel, sum(c6 * c6) AS cn2 FROM cents GROUP BY 1),
scores AS (
  SELECT v.vec_id, v.label, c.clabel,
         CAST(sum(v.v6 * c.c6) AS DOUBLE) / sqrt(CAST(n.cn2 AS DOUBLE))
           AS score
  FROM vd v
  JOIN cents c USING (dim)
  JOIN cnorm n USING (clabel)
  GROUP BY v.vec_id, v.label, c.clabel, n.cn2
),
assigned AS (
  SELECT label, clabel AS predicted,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY score DESC, clabel ASC) AS rk
  FROM scores
)
SELECT label, predicted, count(*) AS n
FROM assigned WHERE rk = 1
GROUP BY label, predicted
ORDER BY label, predicted
"""

QUERIES["similarity_centroid_classifier"] = similarity_centroid_classifier
ORACLE["similarity_centroid_classifier"] = ORACLE_SIMILARITY_CENTROID_CLASSIFIER


# ---------------------------------------------------------------------------
# Per-dimension embedding statistics
# ---------------------------------------------------------------------------


def embedding_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance profile of the embedding column —
    the collapse detector: dimensions with near-zero variance are
    dead capacity, a handful of dominant ones mean the encoder
    collapsed; both are visible here before any index is built
    (complements `embedding_norm_audit`, which profiles rows, by
    profiling COLUMNS of the matrix).

    Exactness: components are 1e6-integer-scaled map-side; per-dim
    n/Σx/Σx² are exact integer sums, mean and variance each ONE
    double division (population variance, ·1e12 descaled), 6-dp
    rounded.  Shape: posexplode + one 64-key hash aggregate — one
    scan, one tiny shuffle.
    """
    emb = scan_parallel(spark, sf_dir, "embeddings", "vec_id").select(
        F.col("embedding").cast("array<double>").alias("emb")
    )
    vd = emb.select(F.posexplode("emb").alias("dim", "v")).select(
        "dim",
        F.floor(F.col("v") * 1000000 + F.lit(0.5)).cast("long").alias("v6"),
    )
    return (
        vd.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v6").alias("s"),
            F.sum(F.col("v6") * F.col("v6")).alias("s2"),
        )
        .select(
            F.col("dim").cast("long").alias("dim"),
            "n",
            pround(F.col("s") / (F.col("n") * F.lit(1000000.0)), 6).alias("mean"),
            pround(
                (F.col("n") * F.col("s2") - F.col("s") * F.col("s"))
                / (F.col("n") * F.col("n") * F.lit(1e12)),
                6,
            ).alias("variance"),
        )
        .orderBy("dim")
    )


ORACLE_EMBEDDING_DIMENSION_STATS = """
WITH vd AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
              AS BIGINT) AS v6
  FROM embeddings
)
SELECT dim,
       count(*) AS n,
       floor((sum(v6) / (count(*) * 1000000.0)) * 1000000 + 0.5)
         / 1000000.0 AS mean,
       floor(((count(*) * sum(v6 * v6) - sum(v6) * sum(v6))
              / (count(*) * count(*) * 1e12)) * 1000000 + 0.5)
         / 1000000.0 AS variance
FROM vd
GROUP BY dim ORDER BY dim
"""

QUERIES["embedding_dimension_stats"] = embedding_dimension_stats
ORACLE["embedding_dimension_stats"] = ORACLE_EMBEDDING_DIMENSION_STATS


# ---------------------------------------------------------------------------
# Label-centroid distance matrix
# ---------------------------------------------------------------------------


def embedding_centroid_distance_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise Euclidean distances between label centroids — the
    class-separation map: labels whose centroids nearly coincide are
    the confusion pairs a classifier (or the nearest-centroid audit)
    will mix up, and merging/cleaning candidates for a taxonomy.

    Exactness: centroid differences are exact integer cross products
    ((S_a·n_b − S_b·n_a) per dimension over 1e6-scaled sums); the 64
    squared terms are folded in DIMENSION order via a sorted
    collect + sequential fold (the events_ewma_smooth convention), so
    no engine picks its own summation order; one sqrt + one division
    at the end.  Shape: label × label × dim is at most k²·d rows —
    centroids are k·d (640) rows, everything downstream is bounded.
    """
    emb = scan_parallel(spark, sf_dir, "embeddings", "vec_id").select(
        F.col("embedding").cast("array<double>").alias("emb"), "label"
    )
    vd = emb.select("label", F.posexplode("emb").alias("dim", "v")).select(
        "label",
        "dim",
        F.floor(F.col("v") * 1000000 + F.lit(0.5)).cast("long").alias("v6"),
    )
    cents = vd.groupBy("label", "dim").agg(
        F.sum("v6").alias("s"), F.count(F.lit(1)).alias("n")
    )
    a = cents.select(
        F.col("label").alias("la"),
        "dim",
        F.col("s").alias("sa"),
        F.col("n").alias("na"),
    )
    b = cents.select(
        F.col("label").alias("lb"),
        "dim",
        F.col("s").alias("sb"),
        F.col("n").alias("nb"),
    )
    terms = (
        a.join(b, "dim")
        .where(F.col("la") < F.col("lb"))
        .select(
            "la",
            "lb",
            "dim",
            "na",
            "nb",
            (
                (F.col("sa") * F.col("nb") - F.col("sb") * F.col("na")).cast(
                    "double"
                )
                / (F.col("na") * F.col("nb") * F.lit(1000000.0))
            ).alias("diff"),
        )
    )
    folded = (
        terms.groupBy("la", "lb")
        .agg(
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
            F.array_sort(
                F.collect_list(F.struct("dim", "diff"))
            ).alias("pairs"),
        )
        .select(
            "la",
            "lb",
            "na",
            "nb",
            F.aggregate(
                "pairs",
                F.lit(0.0),
                lambda acc, p: acc + p["diff"] * p["diff"],
            ).alias("d2"),
        )
    )
    return folded.select(
        "la",
        "lb",
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        pround(F.sqrt(F.col("d2")), 6).alias("centroid_dist"),
    ).orderBy("la", "lb")


ORACLE_EMBEDDING_CENTROID_DISTANCE_MATRIX = """
WITH vd AS (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
              AS BIGINT) AS v6
  FROM embeddings
),
cents AS (
  SELECT label, dim, sum(v6) AS s, count(*) AS n FROM vd GROUP BY 1, 2
),
terms AS (
  SELECT a.label AS la, b.label AS lb, a.dim, a.n AS na, b.n AS nb,
         CAST(a.s * b.n - b.s * a.n AS DOUBLE)
           / (a.n * b.n * 1000000.0) AS diff
  FROM cents a JOIN cents b ON a.dim = b.dim AND a.label < b.label
),
folded AS (
  SELECT la, lb, max(na) AS na, max(nb) AS nb,
         list_reduce(
           list_prepend(0.0, list_transform(list(diff ORDER BY dim),
                                            x -> x * x)),
           (acc, x) -> acc + x) AS d2
  FROM terms
  GROUP BY la, lb
)
SELECT la, lb,
       CAST(na AS BIGINT) AS n_a,
       CAST(nb AS BIGINT) AS n_b,
       floor(sqrt(d2) * 1000000 + 0.5) / 1000000.0 AS centroid_dist
FROM folded
ORDER BY la, lb
"""

QUERIES["embedding_centroid_distance_matrix"] = embedding_centroid_distance_matrix
ORACLE["embedding_centroid_distance_matrix"] = (
    ORACLE_EMBEDDING_CENTROID_DISTANCE_MATRIX
)

# ---------------------------------------------------------------------------
# Stopword profile
# ---------------------------------------------------------------------------

#: Function-word probe list (language-agnostic surface forms present
#: across the corpus's five languages' shared vocabulary).
_STOPWORDS = ("a", "the", "of", "and", "in", "to", "is", "on")


def text_stopword_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language stopword profile: token share of a literal
    function-word list — the naturalness feature quality classifiers
    lean on hardest (real prose carries a stable function-word load;
    keyword-stuffed or template text does not), and the denominator
    audit for `text_quality_score`'s stopword ratio.

    Exactness: exact integer token counts; the share is ONE double
    division, 6-dp rounded.  Shape: map-side tokenize + IN test
    against the 8-word literal (no join — the list compiles into the
    expression), one lang-keyed hash aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    is_stop = F.col("tok").isin(*_STOPWORDS)
    return (
        toks.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(is_stop.cast("long")).alias("n_stopwords"),
            F.countDistinct(F.when(is_stop, F.col("tok"))).alias(
                "distinct_stopwords"
            ),
            pround(F.sum(is_stop.cast("long")) / F.count(F.lit(1)), 6).alias(
                "stopword_share"
            ),
        )
        .orderBy("lang")
    )


_SQL_STOP_LIST = ", ".join(f"'{w}'" for w in _STOPWORDS)

ORACLE_TEXT_STOPWORD_PROFILE = f"""
WITH toks AS (
  SELECT lang, unnest(string_split(lower(text), ' ')) AS tok FROM documents
)
SELECT lang,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN tok IN ({_SQL_STOP_LIST}) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_stopwords,
       count(DISTINCT CASE WHEN tok IN ({_SQL_STOP_LIST}) THEN tok END)
         AS distinct_stopwords,
       floor((CAST(sum(CASE WHEN tok IN ({_SQL_STOP_LIST}) THEN 1 ELSE 0 END)
                   AS DOUBLE) / count(*)) * 1000000 + 0.5) / 1000000.0
         AS stopword_share
FROM toks
GROUP BY lang ORDER BY lang
"""

QUERIES["text_stopword_profile"] = text_stopword_profile
ORACLE["text_stopword_profile"] = ORACLE_TEXT_STOPWORD_PROFILE


# ---------------------------------------------------------------------------
# Compression-ratio proxy (distinct n-gram saturation)
# ---------------------------------------------------------------------------

#: Character n-gram width for the compressibility proxy.
_COMPRESS_NGRAM = 4


def text_compression_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec-free compressibility proxy per document: the ratio of
    DISTINCT character 4-grams to total 4-grams — highly repetitive
    text (the stuff dedup and quality filters want gone) saturates
    its n-gram vocabulary early and scores low, random-ish prose
    scores high.  Reported as a decile histogram of the per-doc
    ratio: bucket, doc count, exact mean ratio — the corpus-shape
    readout without shipping zlib into the executors.

    Exactness: the per-doc ratio is exact integer division scaled to
    parts-per-million (distinct·1e6 div total — both engines floor
    exact integers); the decile bucket and the bucket mean divide
    those integers.

    Shape (optimization r18, guide §2.3/§2.4/§4.1): both per-doc
    numbers are doc-grain and every gram is born on the document's
    own row, so the position explode → (doc × gram) distinct
    aggregate → doc-grain aggregate pipeline — which shuffled one row
    per character of the corpus TWICE (expand + two exchanges) — is
    replaced by one per-row higher-order expression:
    ``size(array_distinct(transform(sequence(1, len−3), i →
    substring(t, i, 4))))``. The gram de-duplication happens in a
    per-row hash set instead of a corpus-wide shuffle; only the
    10-row histogram aggregates. Tradeoff, documented: the per-doc
    distinct set is now built in one task's memory — O(doc length),
    the same bound DuckDB's oracle pays per row — whereas the old
    shape spread a single pathological document's grams across the
    cluster. At LLM-corpus doc sizes (KBs–MBs) the set is tiny;
    sub-linear behavior on one mega-document is not worth 2 full
    corpus shuffles per run.  scan_parallel spreads the single-split
    local scan so the per-row work uses every core.
    """
    docs = scan_parallel(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", F.col("text").alias("t"), F.length("text").alias("len")
    ).where(F.col("len") >= _COMPRESS_NGRAM)
    grams = F.transform(
        F.sequence(F.lit(1), F.col("len") - (_COMPRESS_NGRAM - 1)),
        lambda i: F.substring(F.col("t"), i, _COMPRESS_NGRAM),
    )
    per_doc = docs.select(
        "doc_id",
        (F.col("len") - (_COMPRESS_NGRAM - 1)).cast("long").alias("total"),
        F.size(F.array_distinct(grams)).cast("long").alias("dist"),
    )
    ratio_ppm = F.expr("dist * 1000000 div total")
    bucketed = per_doc.select(
        "doc_id",
        ratio_ppm.alias("ppm"),
        F.least(F.lit(9), F.expr("dist * 10 div total")).cast("int").alias(
            "bucket"
        ),
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            pround(F.sum("ppm") / (F.count(F.lit(1)) * F.lit(1000000.0)), 6)
            .alias("mean_ratio"),
        )
        .orderBy("bucket")
    )


ORACLE_TEXT_COMPRESSION_PROXY = f"""
WITH docs AS (
  SELECT doc_id, text AS t, length(text) AS len
  FROM documents WHERE length(text) >= {_COMPRESS_NGRAM}
),
idx AS (
  SELECT unnest(generate_series(
    1, (SELECT max(len) - {_COMPRESS_NGRAM - 1} FROM docs))) AS i
),
grams AS (
  SELECT doc_id, substr(t, CAST(i AS INTEGER), {_COMPRESS_NGRAM}) AS g
  FROM docs CROSS JOIN idx
  WHERE i <= len - {_COMPRESS_NGRAM - 1}
),
per_doc AS (
  SELECT doc_id, count(*) AS total, count(DISTINCT g) AS dist
  FROM grams GROUP BY doc_id
),
bucketed AS (
  SELECT doc_id,
         dist * 1000000 // total AS ppm,
         CAST(least(9, dist * 10 // total) AS INTEGER) AS bucket
  FROM per_doc
)
SELECT bucket,
       count(*) AS n_docs,
       floor((sum(ppm) / (count(*) * 1000000.0)) * 1000000 + 0.5)
         / 1000000.0 AS mean_ratio
FROM bucketed
GROUP BY bucket ORDER BY bucket
"""

QUERIES["text_compression_proxy"] = text_compression_proxy
ORACLE["text_compression_proxy"] = ORACLE_TEXT_COMPRESSION_PROXY


# ---------------------------------------------------------------------------
# Hapax legomena ratio
# ---------------------------------------------------------------------------


def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena profile per language: the fraction of the
    vocabulary that occurs exactly once (and the once-token share of
    the token stream) — the productivity/diversity index that pairs
    with `text_zipf_fit`'s slope: natural corpora run 40–60 % hapax
    vocabulary, template/duplicated corpora far lower, OCR-garbage
    far higher.

    Exactness: exact integer frequency counts over the vocab-bounded
    (lang, token) aggregate; shares are single double divisions,
    6-dp rounded.  Shape: tokenize map-side, one (lang, tok) hash
    aggregate, one lang-grain rollup.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "lang", F.explode(F.split(F.lower("text"), " ")).alias("tok")
        )
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    return (
        tf.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("vocab"),
            F.sum((F.col("f") == 1).cast("long")).alias("n_hapax"),
            F.sum("f").alias("n_tokens"),
        )
        .select(
            "lang",
            "vocab",
            "n_hapax",
            "n_tokens",
            pround(F.col("n_hapax") / F.col("vocab"), 6).alias("hapax_vocab_share"),
            pround(F.col("n_hapax") / F.col("n_tokens"), 6).alias(
                "hapax_token_share"
            ),
        )
        .orderBy("lang")
    )


ORACLE_TEXT_HAPAX_RATIO = """
WITH tf AS (
  SELECT lang, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents
),
freq AS (SELECT lang, tok, count(*) AS f FROM tf GROUP BY 1, 2)
SELECT lang,
       count(*) AS vocab,
       CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(sum(f) AS BIGINT) AS n_tokens,
       floor((CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS DOUBLE)
              / count(*)) * 1000000 + 0.5) / 1000000.0 AS hapax_vocab_share,
       floor((CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS DOUBLE)
              / sum(f)) * 1000000 + 0.5) / 1000000.0 AS hapax_token_share
FROM freq
GROUP BY lang ORDER BY lang
"""

QUERIES["text_hapax_ratio"] = text_hapax_ratio
ORACLE["text_hapax_ratio"] = ORACLE_TEXT_HAPAX_RATIO

# ---------------------------------------------------------------------------
# Schema/profile drift audit between snapshots
# ---------------------------------------------------------------------------

#: Epoch-day boundary splitting the "old" and "new" order snapshots
#: (deterministic slices of the driver corpus, no synthesized data).
_DRIFT_SPLIT_DAY = 10592  # 1999-01-01


def pipeline_schema_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile drift audit between two dataset versions: the
    orders table is split at a date boundary into OLD and NEW
    snapshots, and each column's profile (row count, null count,
    distinct count, min/max of the canonical string form) is compared
    side-by-side with drift verdicts — the publish gate that catches
    "the upstream quietly changed an enum / started emitting nulls"
    before a model trains on it.

    Exactness: all counts exact integers; min/max compare canonical
    strings (numerics cast via exact integer cents); the distinct
    drift ratio cross-multiplies integers (|dn−do|·100 > do·threshold)
    — no float anywhere.  Shape: ONE scan per snapshot folding every
    column's profile into one aggregate row (count/countDistinct/
    min/max per column), unpivoted by exploding a literal column
    array — the data-contract shape applied to profile drift.
    """
    orders = load_table(spark, sf_dir, "orders")
    day = F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
    # (value expr for null/distinct, ORDER-PRESERVING INTEGER surrogate
    # for min/max) per column: the drift verdicts only need boolean
    # min/max comparisons, and integer surrogates keep every
    # aggregation buffer primitive — no string-in-buffer SortAggregate
    # demotion (the profile_table ascii-code convention; enum columns
    # are keyed by their first character).
    cols = {
        "o_orderstatus": (F.col("o_orderstatus"), F.ascii("o_orderstatus")),
        "o_orderpriority": (
            F.col("o_orderpriority"),
            F.ascii(F.substring("o_orderpriority", 1, 1)),
        ),
        "o_custkey": (F.col("o_custkey"), F.col("o_custkey")),
        "o_totalprice_cents": (
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"),
        ),
    }

    def profile(df: DataFrame, tag: str) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for name, (c, o) in cols.items():
            aggs += [
                F.sum(c.isNull().cast("long")).alias(f"{name}__nulls"),
                F.countDistinct(c).alias(f"{name}__distinct"),
                F.min(o).cast("long").alias(f"{name}__min"),
                F.max(o).cast("long").alias(f"{name}__max"),
            ]
        one = df.agg(*aggs)
        return one.select(
            F.col("n_rows").alias(f"n_rows_{tag}"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(name).alias("column_name"),
                            F.col(f"{name}__nulls").alias(f"nulls_{tag}"),
                            F.col(f"{name}__distinct").alias(f"distinct_{tag}"),
                            F.col(f"{name}__min").alias(f"min_{tag}"),
                            F.col(f"{name}__max").alias(f"max_{tag}"),
                        )
                        for name in cols
                    ]
                )
            ).alias("r"),
        ).select(f"n_rows_{tag}", "r.*")

    old = profile(orders.where(day < _DRIFT_SPLIT_DAY), "old")
    new = profile(orders.where(day >= _DRIFT_SPLIT_DAY), "new")
    joined = old.join(new, "column_name")
    return joined.select(
        "column_name",
        "n_rows_old",
        "n_rows_new",
        "nulls_old",
        "nulls_new",
        "distinct_old",
        "distinct_new",
        (F.col("min_old") != F.col("min_new")).alias("min_drifted"),
        (F.col("max_old") != F.col("max_new")).alias("max_drifted"),
        (
            F.abs(F.col("distinct_new") - F.col("distinct_old")) * 100
            > F.col("distinct_old") * 10
        ).alias("distinct_drifted_10pct"),
    ).orderBy("column_name")


def _sql_profile(tag: str, pred: str) -> str:
    cols = {
        "o_orderstatus": ("o_orderstatus", "ascii(o_orderstatus)"),
        "o_orderpriority": (
            "o_orderpriority",
            "ascii(substr(o_orderpriority, 1, 1))",
        ),
        "o_custkey": ("o_custkey", "o_custkey"),
        "o_totalprice_cents": (
            "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)",
            "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)",
        ),
    }
    branches = " UNION ALL ".join(
        f"""SELECT '{name}' AS column_name, n_rows AS n_rows_{tag},
               {name}__nulls AS nulls_{tag},
               {name}__distinct AS distinct_{tag},
               {name}__min AS min_{tag}, {name}__max AS max_{tag}
            FROM one_{tag}"""
        for name in cols
    )
    aggs = ", ".join(
        f"""sum(CASE WHEN {expr} IS NULL THEN 1 ELSE 0 END) AS {name}__nulls,
            count(DISTINCT {expr}) AS {name}__distinct,
            CAST(min({oexpr}) AS BIGINT) AS {name}__min,
            CAST(max({oexpr}) AS BIGINT) AS {name}__max"""
        for name, (expr, oexpr) in cols.items()
    )
    return (
        f"one_{tag} AS (SELECT count(*) AS n_rows, {aggs} FROM orders"
        f" WHERE {pred}), prof_{tag} AS ({branches})"
    )


ORACLE_PIPELINE_SCHEMA_DRIFT_AUDIT = f"""
WITH
{_sql_profile("old", f"epoch_us(o_orderdate) // 86400000000 < {_DRIFT_SPLIT_DAY}")},
{_sql_profile("new", f"epoch_us(o_orderdate) // 86400000000 >= {_DRIFT_SPLIT_DAY}")}
SELECT o.column_name,
       CAST(o.n_rows_old AS BIGINT) AS n_rows_old,
       CAST(n.n_rows_new AS BIGINT) AS n_rows_new,
       CAST(o.nulls_old AS BIGINT) AS nulls_old,
       CAST(n.nulls_new AS BIGINT) AS nulls_new,
       o.distinct_old, n.distinct_new,
       o.min_old <> n.min_new AS min_drifted,
       o.max_old <> n.max_new AS max_drifted,
       abs(n.distinct_new - o.distinct_old) * 100 > o.distinct_old * 10
         AS distinct_drifted_10pct
FROM prof_old o JOIN prof_new n USING (column_name)
ORDER BY o.column_name
"""

QUERIES["pipeline_schema_drift_audit"] = pipeline_schema_drift_audit
ORACLE["pipeline_schema_drift_audit"] = ORACLE_PIPELINE_SCHEMA_DRIFT_AUDIT


# ---------------------------------------------------------------------------
# Quarantine router (multi-rule bitmask)
# ---------------------------------------------------------------------------


def pipeline_quarantine_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level quarantine routing over lineitem: four independent
    validity rules fold into one integer BITMASK per row, and the
    audit reports every observed mask combination with its count and
    rate — unlike `pipeline_data_contract` (one verdict per rule),
    this is the ROUTER's view: which rule COMBINATIONS co-occur, what
    fraction of rows quarantine, and which single rule dominates.

    Exactness: the mask is pure integer bit arithmetic; rates are
    single divisions of exact counts.  Shape: one scan, map-side mask
    expression, one ≤16-row hash aggregate with a 1-row total
    broadcast.
    """
    li = load_table(spark, sf_dir, "lineitem")
    mask = (
        ((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).cast("int")
        + ((F.col("l_discount") < 0) | (F.col("l_discount") > 0.07)).cast("int")
        * 2
        + ((F.col("l_tax") < 0) | (F.col("l_tax") > 0.08)).cast("int") * 4
        + (F.col("l_shipdate").isNull()).cast("int") * 8
    )
    masked = li.select(mask.alias("mask"))
    counts = masked.groupBy("mask").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("t"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            F.col("mask").cast("int").alias("mask"),
            ((F.col("mask") % 2) == 1).alias("bad_quantity"),
            ((F.col("mask") % 4) >= 2).alias("bad_discount"),
            ((F.col("mask") % 8) >= 4).alias("bad_tax"),
            (F.col("mask") >= 8).alias("null_shipdate"),
            "n",
            pround(F.col("n") / F.col("t"), 6).alias("rate"),
        )
        .orderBy("mask")
    )


ORACLE_PIPELINE_QUARANTINE_ROUTER = """
WITH masked AS (
  SELECT (CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)
       + (CASE WHEN l_discount < 0 OR l_discount > 0.07 THEN 1 ELSE 0 END) * 2
       + (CASE WHEN l_tax < 0 OR l_tax > 0.08 THEN 1 ELSE 0 END) * 4
       + (CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) * 8 AS mask
  FROM lineitem
),
counts AS (SELECT mask, count(*) AS n FROM masked GROUP BY 1),
t AS (SELECT sum(n) AS t FROM counts)
SELECT CAST(mask AS INTEGER) AS mask,
       mask % 2 = 1 AS bad_quantity,
       mask % 4 >= 2 AS bad_discount,
       mask % 8 >= 4 AS bad_tax,
       mask >= 8 AS null_shipdate,
       n,
       floor((CAST(n AS DOUBLE) / t) * 1000000 + 0.5) / 1000000.0 AS rate
FROM counts, t
ORDER BY mask
"""

QUERIES["pipeline_quarantine_router"] = pipeline_quarantine_router
ORACLE["pipeline_quarantine_router"] = ORACLE_PIPELINE_QUARANTINE_ROUTER


# ---------------------------------------------------------------------------
# Order fill-rate SLA
# ---------------------------------------------------------------------------

#: Days allowed between order date and the LAST line shipment.
_SLA_DAYS = 90


def orders_fill_rate_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-level fulfillment SLA: an order is fully shipped when its
    LAST lineitem ships; the audit reports, per order priority, how
    many orders completed within the 90-day SLA, the violation count,
    and the worst completion time — the operations dashboard row that
    tells you whether expedited orders actually move faster.

    Exactness: completion time is integer epoch-day subtraction
    (max(shipdate) − orderdate); SLA verdicts are integer
    comparisons; the rate is one division.  Shape: one lineitem→order
    aggregate (map-side combine on the join key), a key join onto
    orders, a fixed-width priority aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    sd = "unix_micros(cast(l_shipdate as timestamp)) div 86400000000"
    od = "unix_micros(cast(o_orderdate as timestamp)) div 86400000000"
    done = li.groupBy("l_orderkey").agg(F.expr(f"max({sd})").alias("last_ship"))
    joined = orders.join(
        done, orders["o_orderkey"] == done["l_orderkey"]
    ).select(
        "o_orderpriority",
        (F.col("last_ship") - F.expr(od)).alias("days_to_fill"),
    )
    return (
        joined.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum((F.col("days_to_fill") <= _SLA_DAYS).cast("long")).alias(
                "n_within_sla"
            ),
            F.max("days_to_fill").cast("long").alias("worst_days"),
            pround(
                F.sum((F.col("days_to_fill") <= _SLA_DAYS).cast("long"))
                / F.count(F.lit(1)),
                6,
            ).alias("fill_rate"),
        )
        .orderBy("priority")
    )


ORACLE_ORDERS_FILL_RATE_SLA = f"""
WITH done AS (
  SELECT l_orderkey,
         max(epoch_us(l_shipdate) // 86400000000) AS last_ship
  FROM lineitem GROUP BY 1
),
joined AS (
  SELECT o_orderpriority AS priority,
         last_ship - (epoch_us(o_orderdate) // 86400000000) AS days_to_fill
  FROM orders JOIN done ON o_orderkey = l_orderkey
)
SELECT priority,
       count(*) AS n_orders,
       CAST(sum(CASE WHEN days_to_fill <= {_SLA_DAYS} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_within_sla,
       CAST(max(days_to_fill) AS BIGINT) AS worst_days,
       floor((CAST(sum(CASE WHEN days_to_fill <= {_SLA_DAYS} THEN 1 ELSE 0 END)
                   AS DOUBLE) / count(*)) * 1000000 + 0.5) / 1000000.0
         AS fill_rate
FROM joined
GROUP BY priority ORDER BY priority
"""

QUERIES["orders_fill_rate_sla"] = orders_fill_rate_sla
ORACLE["orders_fill_rate_sla"] = ORACLE_ORDERS_FILL_RATE_SLA

# ---------------------------------------------------------------------------
# Graph degree histogram
# ---------------------------------------------------------------------------

#: Power-of-two degree bucket upper bounds (the last is open-ended).
_DEG_BOUNDS = (1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024)


def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed degree distribution of the customer–supplier
    trade graph, per node partition — the first thing to read before
    choosing any graph algorithm's partitioning (a heavy-tailed
    histogram means hot-node bounds like PageRank's segmentation are
    mandatory; a flat one means plain hash partitioning is fine).

    Exactness: degrees are exact distinct-edge counts; the bucket is
    a literal integer CASE cascade (no log2 float).  Shape: one edge
    dedup + one node-grain count + one ≤ 2·12-row aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select("o_custkey", "l_suppkey")
        .distinct()
        # Optimization r18 note: a lazy localCheckpoint here was
        # measured and REVERTED — the two per-node-type degree
        # aggregates run in parallel over the reused exchange, and the
        # barrier cost more than the duplicated cheap aggregate.
    )
    def bucketize(deg):
        expr = F.when(deg <= _DEG_BOUNDS[0], F.lit(f"<={_DEG_BOUNDS[0]}"))
        for lo, hi in zip(_DEG_BOUNDS, _DEG_BOUNDS[1:]):
            expr = expr.when(deg <= hi, F.lit(f"{lo + 1}-{hi}"))
        return expr.otherwise(F.lit(f">{_DEG_BOUNDS[-1]}"))

    cust = pairs.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("deg")).select(
        F.lit("customer").alias("node_type"), "deg"
    )
    supp = pairs.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("deg")).select(
        F.lit("supplier").alias("node_type"), "deg"
    )
    both = cust.unionAll(supp)
    return (
        both.groupBy("node_type", bucketize(F.col("deg")).alias("deg_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("deg").alias("min_deg"),
            F.max("deg").alias("max_deg"),
        )
        .orderBy("node_type", "min_deg")
    )


def _sql_deg_bucket(col: str) -> str:
    branches = [f"WHEN {col} <= {_DEG_BOUNDS[0]} THEN '<={_DEG_BOUNDS[0]}'"]
    for lo, hi in zip(_DEG_BOUNDS, _DEG_BOUNDS[1:]):
        branches.append(f"WHEN {col} <= {hi} THEN '{lo + 1}-{hi}'")
    return "CASE " + " ".join(branches) + f" ELSE '>{_DEG_BOUNDS[-1]}' END"


ORACLE_GRAPH_DEGREE_HISTOGRAM = f"""
WITH pairs AS (
  SELECT DISTINCT o_custkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
degs AS (
  SELECT 'customer' AS node_type, count(*) AS deg
  FROM pairs GROUP BY o_custkey
  UNION ALL
  SELECT 'supplier' AS node_type, count(*) AS deg
  FROM pairs GROUP BY l_suppkey
)
SELECT node_type,
       {_sql_deg_bucket("deg")} AS deg_bucket,
       count(*) AS n_nodes,
       min(deg) AS min_deg,
       max(deg) AS max_deg
FROM degs
GROUP BY 1, 2 ORDER BY node_type, min_deg
"""

QUERIES["graph_degree_histogram"] = graph_degree_histogram
ORACLE["graph_degree_histogram"] = ORACLE_GRAPH_DEGREE_HISTOGRAM


# ---------------------------------------------------------------------------
# Common-neighbor link prediction (top supplier pairs)
# ---------------------------------------------------------------------------

#: Skip hub customers with more than this many suppliers when counting
#: wedges (the standard link-prediction hub cut; also the hot-node
#: bound that keeps the per-customer pair expansion quadratic only in
#: a CONSTANT).
_CN_HUB_CAP = 64
#: Report the top-N supplier pairs.
_CN_TOP = 20


def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction on the supplier projection of
    the trade graph: supplier pairs ranked by the number of customers
    they share — "who will trade next", and the one-hop co-occurrence
    signal behind people-also-bought.  Hub customers (> 64 suppliers)
    are excluded before the wedge expansion, the standard cut that
    both de-noises (hubs connect everyone) and bounds the per-key
    blowup to a constant C(64,2).

    Exactness: everything is exact integer counting with a total
    order (count desc, s1, s2) on the reported top-20.  Shape: edge
    dedup → customer-keyed degree filter → per-customer pair
    expansion (bounded by the cap) → one pair-keyed count →
    TakeOrdered 20.

    Optimization r18 note: a collect_set + map-side sorted-array pair
    comb (the shape that won for :func:`orders_basket_affinity`) was
    measured here and REVERTED — with ~39 distinct suppliers per
    customer the 11.1M pair structs built by interpreted higher-order
    expressions ran 2.3× SLOWER (5.4 s vs 2.35 s solo at sf0.1) than
    the codegen'd self-join that produces the identical pair stream.
    The HOF comb only wins when per-key sets are small (basket: ~4
    parts/order); keep the join here.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    deg = pairs.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("deg"))
    kept = pairs.join(
        deg.where(F.col("deg") <= _CN_HUB_CAP).select("o_custkey"), "o_custkey"
    )
    a = kept.select("o_custkey", F.col("l_suppkey").alias("s1"))
    b = kept.select("o_custkey", F.col("l_suppkey").alias("s2"))
    return (
        a.join(b, "o_custkey")
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .orderBy(F.desc("n_common"), F.asc("s1"), F.asc("s2"))
        .limit(_CN_TOP)
    )


ORACLE_GRAPH_COMMON_NEIGHBORS = f"""
WITH pairs AS (
  SELECT DISTINCT o_custkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
deg AS (SELECT o_custkey, count(*) AS deg FROM pairs GROUP BY 1),
kept AS (
  SELECT p.o_custkey, p.l_suppkey FROM pairs p
  JOIN deg d ON p.o_custkey = d.o_custkey AND d.deg <= {_CN_HUB_CAP}
)
SELECT a.l_suppkey AS s1, b.l_suppkey AS s2, count(*) AS n_common
FROM kept a JOIN kept b
  ON a.o_custkey = b.o_custkey AND a.l_suppkey < b.l_suppkey
GROUP BY 1, 2
ORDER BY n_common DESC, s1 ASC, s2 ASC
LIMIT {_CN_TOP}
"""

QUERIES["graph_common_neighbors"] = graph_common_neighbors
ORACLE["graph_common_neighbors"] = ORACLE_GRAPH_COMMON_NEIGHBORS


# ---------------------------------------------------------------------------
# Aspect-ratio bucket plan (multimodal batch layout)
# ---------------------------------------------------------------------------


def multimodal_aspect_bucket_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio bucketing plan for batched image training: every
    image is routed to portrait / squarish / landscape by integer
    aspect percent, and per bucket the plan reports image count,
    payload pixels, and the padding waste of aligning each image up
    to 16-pixel tiles — the batch-shape planning a multimodal loader
    does so same-shaped samples collate without mega-padding.

    Dimensions come from the corpus stand-in's STUB decode lane
    (width = 16 + n mod 64, height = 16 + (n div 64) mod 64 over the
    payload byte length — the deterministic fake
    `multimodal_image_meta`'s kernel falls back to on non-image
    payloads, reproduced here map-side; a real corpus feeds the same
    plan from the decoded header columns).  All arithmetic is integer
    (aspect percent = w·100 div h; pad waste in exact pixels); the
    waste ratio is one division.
    """
    docs = load_table(spark, sf_dir, "documents")
    n = F.length(F.col("text").cast("binary")).cast("long")
    w = (F.lit(16) + n % 64).alias("w")
    h = (F.lit(16) + (n / 64).cast("long") % 64).alias("h")
    sized = docs.select("doc_id", w, h)
    aspect = F.expr("w * 100 div h")
    pad_w = (16 - F.col("w") % 16) % 16
    pad_h = (16 - F.col("h") % 16) % 16
    waste = pad_w * F.col("h") + pad_h * (F.col("w") + pad_w)
    bucket = (
        F.when(aspect < 80, "portrait")
        .when(aspect <= 125, "squarish")
        .otherwise("landscape")
    )
    return (
        sized.select(
            bucket.alias("aspect_bucket"),
            (F.col("w") * F.col("h")).alias("pixels"),
            waste.alias("pad_pixels"),
        )
        .groupBy("aspect_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum("pixels").alias("total_pixels"),
            F.sum("pad_pixels").alias("total_pad_pixels"),
            pround(F.sum("pad_pixels") / F.sum("pixels"), 6).alias("pad_ratio"),
        )
        .orderBy("aspect_bucket")
    )


ORACLE_MULTIMODAL_ASPECT_BUCKET_PLAN = """
WITH sized AS (
  SELECT doc_id,
         16 + octet_length(encode(text)) % 64 AS w,
         16 + (octet_length(encode(text)) // 64) % 64 AS h
  FROM documents
),
routed AS (
  SELECT CASE WHEN w * 100 // h < 80 THEN 'portrait'
              WHEN w * 100 // h <= 125 THEN 'squarish'
              ELSE 'landscape' END AS aspect_bucket,
         w * h AS pixels,
         ((16 - w % 16) % 16) * h
           + ((16 - h % 16) % 16) * (w + (16 - w % 16) % 16) AS pad_pixels
  FROM sized
)
SELECT aspect_bucket,
       count(*) AS n_images,
       CAST(sum(pixels) AS BIGINT) AS total_pixels,
       CAST(sum(pad_pixels) AS BIGINT) AS total_pad_pixels,
       floor((CAST(sum(pad_pixels) AS DOUBLE) / sum(pixels)) * 1000000 + 0.5)
         / 1000000.0 AS pad_ratio
FROM routed
GROUP BY aspect_bucket ORDER BY aspect_bucket
"""

QUERIES["multimodal_aspect_bucket_plan"] = multimodal_aspect_bucket_plan
ORACLE["multimodal_aspect_bucket_plan"] = ORACLE_MULTIMODAL_ASPECT_BUCKET_PLAN


# ---------------------------------------------------------------------------
# Session-duration distribution
# ---------------------------------------------------------------------------

#: Session-duration bucket upper bounds in MINUTES (last open-ended;
#: bucket 0 is the single-event zero-duration session).
_SESSDUR_BOUNDS = (0, 5, 15, 30)


def events_session_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-duration distribution over the oracle-verified
    gap-sessionization: sessions bucketed by duration (single-event /
    ≤5 min / ≤15 / ≤30 / longer) with exact counts and mean events
    per session — the engagement-depth histogram that complements
    `events_sessionize` (which emits the sessions) by profiling them.

    Composes the registered sessionize operator directly (operator
    reuse, not reimplementation); duration is exact integer
    microseconds bucketed by integer comparison, and mean events per
    session divides exact integer sums.
    """
    from parquet_stream_writer_spark.operators.streaming_batch import (
        events_sessionize,
    )

    sessions = events_sessionize(spark, sf_dir)
    dur_min = F.expr(
        "(unix_micros(cast(session_end as timestamp))"
        " - unix_micros(cast(session_start as timestamp))) div 60000000"
    )
    b = _SESSDUR_BOUNDS
    bucket = (
        F.when(dur_min <= b[0], F.lit("single"))
        .when(dur_min <= b[1], F.lit(f"<={b[1]}m"))
        .when(dur_min <= b[2], F.lit(f"<={b[2]}m"))
        .when(dur_min <= b[3], F.lit(f"<={b[3]}m"))
        .otherwise(F.lit(f">{b[3]}m"))
    )
    return (
        sessions.groupBy(bucket.alias("duration_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
            pround(F.sum("n_events") / F.count(F.lit(1)), 4).alias(
                "mean_events_per_session"
            ),
        )
        .orderBy("duration_bucket")
    )

def _sessdur_oracle() -> str:
    from parquet_stream_writer_spark.operators.streaming_batch import (
        ORACLE_EVENTS_SESSIONIZE,
    )

    b = _SESSDUR_BOUNDS
    bucket = (
        f"CASE WHEN dur_min <= {b[0]} THEN 'single' "
        f"WHEN dur_min <= {b[1]} THEN '<={b[1]}m' "
        f"WHEN dur_min <= {b[2]} THEN '<={b[2]}m' "
        f"WHEN dur_min <= {b[3]} THEN '<={b[3]}m' "
        f"ELSE '>{b[3]}m' END"
    )
    return f"""
WITH sess AS ({ORACLE_EVENTS_SESSIONIZE}),
durs AS (
  SELECT n_events,
         (epoch_us(session_end) - epoch_us(session_start)) // 60000000
           AS dur_min
  FROM sess
)
SELECT {bucket} AS duration_bucket,
       count(*) AS n_sessions,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       floor((CAST(sum(n_events) AS DOUBLE) / count(*)) * 10000 + 0.5)
         / 10000.0 AS mean_events_per_session
FROM durs
GROUP BY 1 ORDER BY 1
"""


QUERIES["events_session_duration"] = events_session_duration
ORACLE["events_session_duration"] = _sessdur_oracle()

# ---------------------------------------------------------------------------
# Duplicate-invoice audit
# ---------------------------------------------------------------------------

#: Two same-customer orders with identical cent totals within this
#: many days are flagged as suspected duplicates.
_DUPINV_DAYS = 7


def orders_duplicate_invoice_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suspected duplicate-invoice detection: pairs of orders from
    the SAME customer with IDENTICAL cent totals placed within 7
    days of each other — the classic fin-ops double-payment screen,
    and the relational cousin of the content-dedup family (exact key
    equality + a bounded temporal predicate instead of text
    similarity).

    Exactness: the blocking key is exact (custkey, integer cents);
    the day gap is integer epoch-day subtraction; outputs are exact
    counts.  Shape: one equi self-join on the (custkey, cents)
    blocking key — never a cross join; the within-key pair expansion
    is quadratic only in the per-key duplicate multiplicity — then a
    priority-grain rollup of pair counts and the flagged-order
    distinct count.
    """
    orders = load_table(spark, sf_dir, "orders")
    day = "unix_micros(cast(o_orderdate as timestamp)) div 86400000000"
    base = orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias(
            "cents"
        ),
        F.expr(day).alias("day"),
    )
    a = base.alias("a")
    b = base.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.cents") == F.col("b.cents"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
        )
        .where(
            F.abs(F.col("a.day") - F.col("b.day")) <= _DUPINV_DAYS
        )
        .select(
            F.col("a.o_orderpriority").alias("priority"),
            F.col("a.o_orderkey").alias("k1"),
            F.col("b.o_orderkey").alias("k2"),
            F.col("a.cents").alias("cents"),
        )
    )
    return (
        pairs.groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("k1").alias("n_flagged_first"),
            F.sum("cents").alias("at_risk_cents"),
        )
        .orderBy("priority")
    )


ORACLE_ORDERS_DUPLICATE_INVOICE_AUDIT = f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderpriority,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         epoch_us(o_orderdate) // 86400000000 AS day
  FROM orders
),
pairs AS (
  SELECT a.o_orderpriority AS priority, a.o_orderkey AS k1,
         b.o_orderkey AS k2, a.cents
  FROM base a JOIN base b
    ON a.o_custkey = b.o_custkey AND a.cents = b.cents
   AND a.o_orderkey < b.o_orderkey
  WHERE abs(a.day - b.day) <= {_DUPINV_DAYS}
)
SELECT priority,
       count(*) AS n_pairs,
       count(DISTINCT k1) AS n_flagged_first,
       CAST(sum(cents) AS BIGINT) AS at_risk_cents
FROM pairs
GROUP BY priority ORDER BY priority
"""

QUERIES["orders_duplicate_invoice_audit"] = orders_duplicate_invoice_audit
ORACLE["orders_duplicate_invoice_audit"] = ORACLE_ORDERS_DUPLICATE_INVOICE_AUDIT


# ---------------------------------------------------------------------------
# Discount effectiveness
# ---------------------------------------------------------------------------


def lineitem_discount_effectiveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount-band effectiveness: per 1%-discount band, line count,
    mean quantity (does a deeper discount actually move more units?),
    gross revenue and discount spend — the pricing-analytics readout
    behind every promo post-mortem (TPC-H Q6 asks one band's revenue;
    this profiles the whole policy).

    Exactness: the band is an integer percent bucket from the 2-dp
    discount; mean quantity divides exact integer sums
    (rounded-sum-divide is unnecessary — quantities are integral);
    revenue and discount spend are exact integer cent·basis-point
    products descaled by ONE division each.
    """
    li = load_table(spark, sf_dir, "lineitem")
    band = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("int")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    bps = F.floor(F.col("l_discount") * 10000 + F.lit(0.5)).cast("long")
    return (
        li.select(
            band.alias("discount_pct"),
            F.col("l_quantity").cast("long").alias("qty"),
            cents.alias("cents"),
            (cents * bps).alias("disc_scaled"),
        )
        .groupBy("discount_pct")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            pround(F.sum("qty") / F.count(F.lit(1)), 4).alias("mean_quantity"),
            F.sum("cents").alias("gross_cents"),
            F.floor(F.sum("disc_scaled") / F.lit(10000)).cast("long").alias(
                "discount_cents"
            ),
        )
        .orderBy("discount_pct")
    )


ORACLE_LINEITEM_DISCOUNT_EFFECTIVENESS = """
WITH lines AS (
  SELECT CAST(floor(l_discount * 100 + 0.5) AS INTEGER) AS discount_pct,
         CAST(l_quantity AS BIGINT) AS qty,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
           * CAST(floor(l_discount * 10000 + 0.5) AS BIGINT) AS disc_scaled
  FROM lineitem
)
SELECT discount_pct,
       count(*) AS n_lines,
       floor((CAST(sum(qty) AS DOUBLE) / count(*)) * 10000 + 0.5)
         / 10000.0 AS mean_quantity,
       CAST(sum(cents) AS BIGINT) AS gross_cents,
       CAST(floor(CAST(sum(disc_scaled) AS DOUBLE) / 10000) AS BIGINT)
         AS discount_cents
FROM lines
GROUP BY discount_pct ORDER BY discount_pct
"""

QUERIES["lineitem_discount_effectiveness"] = lineitem_discount_effectiveness
ORACLE["lineitem_discount_effectiveness"] = ORACLE_LINEITEM_DISCOUNT_EFFECTIVENESS


# ---------------------------------------------------------------------------
# Brand price dispersion
# ---------------------------------------------------------------------------


def part_brand_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand retail-price dispersion: min/max spread and the
    quartile coefficient of dispersion ((Q3−Q1)/(Q3+Q1)) — the
    assortment-pricing audit that flags brands whose catalog spans
    wildly inconsistent price points.

    Exactness: prices are integer cents; Q1/Q3 use the pack's
    interpolated-percentile parity convention over ranked integer
    order statistics (two nearest ranks + ONE interpolation
    expression); the dispersion coefficient is one division of those
    deterministic doubles, 6-dp rounded.  Shape: brand-keyed rank
    windows over the small per-brand part relations + equi joins of
    the four boundary ranks.
    """
    part = load_table(spark, sf_dir, "part")
    cents = F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).cast("long")
    base = part.select("p_brand", cents.alias("cents"))
    wr = Window.partitionBy("p_brand").orderBy("cents")
    ranked = base.withColumn("rk", F.row_number().over(wr))
    stats = base.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
    )
    out = stats
    for q, name in ((0.25, "q1"), (0.75, "q3")):
        h = (F.col("n") - 1) * F.lit(q)
        out = (
            out.withColumn(f"{name}_lo", F.floor(h).cast("long") + 1)
            .withColumn(f"{name}_hi", -F.floor(-h).cast("long") + 1)
            .withColumn(f"{name}_frac", h - F.floor(h))
        )
        lo_v = ranked.select(
            F.col("p_brand").alias(f"{name}_lo_b"),
            F.col("rk").alias(f"{name}_lo_rk"),
            F.col("cents").alias(f"{name}_lo_c"),
        )
        hi_v = ranked.select(
            F.col("p_brand").alias(f"{name}_hi_b"),
            F.col("rk").alias(f"{name}_hi_rk"),
            F.col("cents").alias(f"{name}_hi_c"),
        )
        out = out.join(
            lo_v,
            (F.col("p_brand") == F.col(f"{name}_lo_b"))
            & (F.col(f"{name}_lo") == F.col(f"{name}_lo_rk")),
        ).join(
            hi_v,
            (F.col("p_brand") == F.col(f"{name}_hi_b"))
            & (F.col(f"{name}_hi") == F.col(f"{name}_hi_rk")),
        )
        out = out.withColumn(
            name,
            F.col(f"{name}_lo_c")
            + (F.col(f"{name}_hi_c") - F.col(f"{name}_lo_c"))
            * F.col(f"{name}_frac"),
        )
    return out.select(
        "p_brand",
        "n",
        "min_cents",
        "max_cents",
        pround(F.col("q1"), 2).alias("q1_cents"),
        pround(F.col("q3"), 2).alias("q3_cents"),
        pround(
            (F.col("q3") - F.col("q1")) / (F.col("q3") + F.col("q1")), 6
        ).alias("quartile_dispersion"),
    ).orderBy("p_brand")


ORACLE_PART_BRAND_PRICE_DISPERSION = """
WITH base AS (
  SELECT p_brand,
         CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
  FROM part
),
ranked AS (
  SELECT p_brand, cents,
         row_number() OVER (PARTITION BY p_brand ORDER BY cents) AS rk
  FROM base
),
stats AS (
  SELECT p_brand, count(*) AS n, min(cents) AS min_cents,
         max(cents) AS max_cents
  FROM base GROUP BY 1
),
pcts AS (
  SELECT s.p_brand, s.n, s.min_cents, s.max_cents,
         q1lo.cents + (q1hi.cents - q1lo.cents)
           * ((s.n - 1) * 0.25 - floor((s.n - 1) * 0.25)) AS q1,
         q3lo.cents + (q3hi.cents - q3lo.cents)
           * ((s.n - 1) * 0.75 - floor((s.n - 1) * 0.75)) AS q3
  FROM stats s
  JOIN ranked q1lo ON q1lo.p_brand = s.p_brand
    AND q1lo.rk = CAST(floor((s.n - 1) * 0.25) AS BIGINT) + 1
  JOIN ranked q1hi ON q1hi.p_brand = s.p_brand
    AND q1hi.rk = CAST(ceil((s.n - 1) * 0.25) AS BIGINT) + 1
  JOIN ranked q3lo ON q3lo.p_brand = s.p_brand
    AND q3lo.rk = CAST(floor((s.n - 1) * 0.75) AS BIGINT) + 1
  JOIN ranked q3hi ON q3hi.p_brand = s.p_brand
    AND q3hi.rk = CAST(ceil((s.n - 1) * 0.75) AS BIGINT) + 1
)
SELECT p_brand, n, min_cents, max_cents,
       floor(q1 * 100 + 0.5) / 100.0 AS q1_cents,
       floor(q3 * 100 + 0.5) / 100.0 AS q3_cents,
       floor(((q3 - q1) / (q3 + q1)) * 1000000 + 0.5) / 1000000.0
         AS quartile_dispersion
FROM pcts
ORDER BY p_brand
"""

QUERIES["part_brand_price_dispersion"] = part_brand_price_dispersion
ORACLE["part_brand_price_dispersion"] = ORACLE_PART_BRAND_PRICE_DISPERSION


# ---------------------------------------------------------------------------
# Row-size / partition-sizing profile
# ---------------------------------------------------------------------------

#: Partition-planning target in bytes (the classic 128 MB split).
_ROWSIZE_TARGET = 128 * 1024 * 1024


def pipeline_row_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialized row-size profile per table with a partition-count
    plan: estimated in-flight bytes per row (UTF-8 text + fixed-width
    column estimates), total bytes, and how many 128 MB partitions
    that implies — the sizing pass behind every
    ``spark.sql.files.maxPartitionBytes`` / repartition decision in a
    100 TB pipeline.

    Exactness: byte estimates are pure integer expressions
    (octet_length for strings, literal widths for fixed columns);
    the partition count is exact integer ceil-division.  Shape: one
    map-side byte expression + 1-row aggregate per table, unioned —
    no joins, no windows.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        (
            F.length(F.col("text").cast("binary")).cast("long")
            + F.length(F.col("lang").cast("binary"))
            + F.length(F.col("source").cast("binary"))
            + F.lit(16)
        ).alias("row_bytes")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        (
            F.length(F.col("o_orderstatus").cast("binary")).cast("long")
            + F.length(F.col("o_orderpriority").cast("binary"))
            + F.lit(8 + 8 + 8 + 8)
        ).alias("row_bytes")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        (
            F.length(F.col("l_returnflag").cast("binary")).cast("long")
            + F.length(F.col("l_linestatus").cast("binary"))
            + F.lit(8 * 8 + 4 + 8)
        ).alias("row_bytes")
    )

    def profile(df: DataFrame, name: str) -> DataFrame:
        # target_partitions is TRUE integer ceil-division (`div`), not
        # a double divide + truncating cast: past 2^53 total bytes the
        # double quotient can round across an integer boundary while
        # DuckDB's `//` stays exact — the 100 TB case is precisely
        # where this query matters.
        return df.agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("row_bytes").alias("total_bytes"),
        ).select(
            "table_name",
            "n_rows",
            "total_bytes",
            F.floor(F.col("total_bytes") / F.col("n_rows"))
            .cast("long")
            .alias("bytes_per_row"),
            F.expr(
                f"(total_bytes + {_ROWSIZE_TARGET - 1}) div {_ROWSIZE_TARGET}"
            )
            .cast("long")
            .alias("target_partitions"),
        )

    out = profile(docs, "documents")
    for df, name in ((orders, "orders"), (li, "lineitem")):
        out = out.unionAll(profile(df, name))
    return out.orderBy("table_name")


ORACLE_PIPELINE_ROW_SIZE_PROFILE = f"""
WITH d AS (
  SELECT octet_length(encode(text)) + octet_length(encode(lang))
         + octet_length(encode(source)) + 16 AS row_bytes
  FROM documents
),
o AS (
  SELECT octet_length(encode(o_orderstatus))
         + octet_length(encode(o_orderpriority)) + 32 AS row_bytes
  FROM orders
),
l AS (
  SELECT octet_length(encode(l_returnflag))
         + octet_length(encode(l_linestatus)) + 76 AS row_bytes
  FROM lineitem
),
profiles AS (
  SELECT 'documents' AS table_name, count(*) AS n_rows,
         sum(row_bytes) AS total_bytes FROM d
  UNION ALL
  SELECT 'orders', count(*), sum(row_bytes) FROM o
  UNION ALL
  SELECT 'lineitem', count(*), sum(row_bytes) FROM l
)
SELECT table_name,
       n_rows,
       CAST(total_bytes AS BIGINT) AS total_bytes,
       CAST(floor(CAST(total_bytes AS DOUBLE) / n_rows) AS BIGINT)
         AS bytes_per_row,
       CAST((total_bytes + {_ROWSIZE_TARGET - 1}) // {_ROWSIZE_TARGET}
            AS BIGINT) AS target_partitions
FROM profiles
ORDER BY table_name
"""

QUERIES["pipeline_row_size_profile"] = pipeline_row_size_profile
ORACLE["pipeline_row_size_profile"] = ORACLE_PIPELINE_ROW_SIZE_PROFILE
