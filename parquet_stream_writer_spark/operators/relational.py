"""Relational query pack — scans, joins, aggregates, windows, set ops.

The reference implements none of these (verified absence — it is a
write-only sink; see SURVEY.md §2b), so this module is the §2c
extension surface: every operator class a user of a general analytics
engine expects, expressed with built-in DataFrame operators only.

Scale notes (100 TB / 1000-executor design intent):

- Dimension tables (region/nation/supplier/part/customer) are joined
  with explicit ``F.broadcast`` — no shuffle of the fact table for
  star joins; at real scale the fact side streams map-side.
- Aggregations use ``groupBy`` so Catalyst plans partial (map-side)
  + final aggregation automatically; no driver-side collect anywhere.
- Filters are applied directly on scan columns so they push into the
  parquet reader (verify with ``.explain``: PushedFilters).
- Top-k per group uses window ``row_number`` (single shuffle on the
  partition key); global top-k uses ``orderBy().limit(k)`` which Spark
  executes as TakeOrderedAndProject (no full sort materialization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from parquet_stream_writer_spark.functions import (
    int_mean,
    pround,
    quantn,
    sql_int_mean,
    sql_quantn,
    sql_round,
)
from parquet_stream_writer_spark.operators.dedup import (
    _hex_prefix_int,
    _hex_to_int_sql,
)

from parquet_stream_writer_spark.sources import load_table, scan_parallel


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Scan / filter / projection
# ---------------------------------------------------------------------------

def scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate + projection pushed into the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_quantity") > F.lit(45.0))
            & (F.col("l_discount") < F.lit(0.02))
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            pround(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 2).alias(
                "net_price"
            ),
        )
    )


ORACLE_SCAN_FILTER_PROJECT = """
SELECT l_orderkey, l_linenumber, l_quantity,
       floor((l_extendedprice * (1.0 - l_discount)) * 100 + 0.5) / 100.0 AS net_price
FROM lineitem
WHERE l_quantity > 45.0 AND l_discount < 0.02
"""


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary (hash agg, partial+final).

    Exactness (integer-cents convention, staged/staged2 style — closes
    the r8-documented residual half-step window of the old
    rounded-sum-divide form): every 2-dp input is pre-scaled to an
    exact per-row integer (cents / percent-points), the disc/charge
    measures become exact per-row integer products in 1e-4 / 1e-6
    units, and ALL sums run over integers (cast to decimal(38,0) for
    int64 headroom at 1000× — a 600-billion-row lineitem's charge sum
    in 1e-6 units tops 1e20).  Engine summation order can no longer
    move any result; the only doubles are identical functions of
    identical exact integers, so the engines cannot fork at any scale.
    2-dp totals round half-up in INTEGER space ((s + half) div unit);
    4-dp averages divide the exact cent sum as one double expression.

    Shape: partial+final hash agg on a 4-group key; one scan, no
    shuffle beyond the 4-row exchange.
    """
    li = _t(spark, sf_dir, "lineitem")

    def cents(col: str):
        return F.floor(F.col(col) * 100 + F.lit(0.5)).cast("long")

    dec = "decimal(38,0)"
    rows = li.where(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz")
    ).select(
        "l_returnflag",
        "l_linestatus",
        cents("l_quantity").alias("qty_c"),
        cents("l_extendedprice").alias("price_c"),
        cents("l_discount").alias("disc_c"),
        cents("l_tax").alias("tax_c"),
    )
    rows = rows.select(
        "l_returnflag",
        "l_linestatus",
        "qty_c",
        "price_c",
        "disc_c",
        # price*(1-disc) in exact 1e-4 units; *(1+tax) in 1e-6 units.
        (F.col("price_c") * (F.lit(100) - F.col("disc_c"))).alias("disc_u4"),
        (
            F.col("price_c")
            * (F.lit(100) - F.col("disc_c"))
            * (F.lit(100) + F.col("tax_c"))
        ).alias("charge_u6"),
    )
    agg = rows.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("qty_c").cast(dec)).alias("sq"),
        F.sum(F.col("price_c").cast(dec)).alias("sp"),
        F.sum(F.col("disc_c").cast(dec)).alias("sd"),
        F.sum(F.col("disc_u4").cast(dec)).alias("sdp"),
        F.sum(F.col("charge_u6").cast(dec)).alias("sc"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        (F.col("sq").cast("double") / 100.0).alias("sum_qty"),
        (F.col("sp").cast("double") / 100.0).alias("sum_base_price"),
        (F.expr("CAST((sdp + 50) DIV 100 AS DOUBLE)") / 100.0).alias(
            "sum_disc_price"
        ),
        (F.expr("CAST((sc + 5000) DIV 10000 AS DOUBLE)") / 100.0).alias(
            "sum_charge"
        ),
        pround(
            F.col("sq").cast("double") / 100.0 / F.col("count_order"), 4
        ).alias("avg_qty"),
        pround(
            F.col("sp").cast("double") / 100.0 / F.col("count_order"), 4
        ).alias("avg_price"),
        pround(
            F.col("sd").cast("double") / 100.0 / F.col("count_order"), 4
        ).alias("avg_disc"),
        "count_order",
    )


ORACLE_Q1 = """
WITH c AS (
  SELECT l_returnflag, l_linestatus,
         CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)      AS qty_c,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c,
         CAST(floor(l_discount * 100 + 0.5) AS BIGINT)      AS disc_c,
         CAST(floor(l_tax * 100 + 0.5) AS BIGINT)           AS tax_c
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02'
),
a AS (
  SELECT l_returnflag, l_linestatus,
         sum(qty_c) AS sq, sum(price_c) AS sp, sum(disc_c) AS sd,
         sum(price_c * (100 - disc_c)) AS sdp,
         sum(price_c * (100 - disc_c) * (100 + tax_c)) AS sc,
         count(*) AS count_order
  FROM c GROUP BY 1, 2
)
SELECT l_returnflag, l_linestatus,
       CAST(sq AS DOUBLE) / 100.0 AS sum_qty,
       CAST(sp AS DOUBLE) / 100.0 AS sum_base_price,
       CAST((sdp + 50) // 100 AS DOUBLE) / 100.0 AS sum_disc_price,
       CAST((sc + 5000) // 10000 AS DOUBLE) / 100.0 AS sum_charge,
       floor((CAST(sq AS DOUBLE) / 100.0 / count_order) * 10000 + 0.5) / 10000.0 AS avg_qty,
       floor((CAST(sp AS DOUBLE) / 100.0 / count_order) * 10000 + 0.5) / 10000.0 AS avg_price,
       floor((CAST(sd AS DOUBLE) / 100.0 / count_order) * 10000 + 0.5) / 10000.0 AS avg_disc,
       count_order
FROM a
"""


def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) alongside plain aggregates (Catalyst expand)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
        pround(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


ORACLE_AGG_DISTINCT = """
SELECT o_orderpriority,
       count(DISTINCT o_custkey) AS n_customers,
       count(*)                  AS n_orders,
       floor((sum(o_totalprice)) * 100 + 0.5) / 100.0 AS sum_price
FROM orders
GROUP BY o_orderpriority
"""


#: Accepted relative error for the HLL++ estimate vs exact distinct.
#: rsd 0.05 means one standard error ≈ 5%; 3σ = 15% bounds the
#: deterministic (hash-seeded, RNG-free) estimate at every SF tested.
_HLL_REL_ERR_BOUND = 0.15


def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct, hash-oracled as a BOUNDS
    CHECK: raw sketch estimates are implementation-specific (DuckDB's
    HLL seeds differently), so the emitted columns are the exact
    distinct plus a boolean asserting the estimate landed within
    ``_HLL_REL_ERR_BOUND`` of it — the oracle computes the same exact
    value with a literal TRUE, so a drifting sketch hash-mismatches.
    The exact countDistinct rides along as the audit yardstick at test
    scale; a 100 TB run keeps only the sketch column (one pass,
    mergeable partials, no raw-key shuffle)."""
    ev = _t(spark, sf_dir, "events")
    # rsd 0.05 (default): rsd 0.01 needs ~2^18 HLL registers per group
    # per partial aggregate — measured 8× slower for no benefit here.
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.05).alias("approx"),
            F.countDistinct("user_id").alias("exact_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "event_type",
            "exact_users",
            "n_events",
            (
                F.abs(F.col("approx") - F.col("exact_users"))
                / F.col("exact_users")
                <= _HLL_REL_ERR_BOUND
            ).alias("approx_within_bound"),
        )
    )


ORACLE_AGG_APPROX_DISTINCT = """
SELECT event_type,
       count(DISTINCT user_id) AS exact_users,
       count(*)                AS n_events,
       TRUE                    AS approx_within_bound
FROM events
GROUP BY event_type
"""


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            pround(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


ORACLE_AGG_ROLLUP = """
SELECT l_returnflag, l_linestatus,
       floor((sum(l_quantity)) * 100 + 0.5) / 100.0 AS sum_qty,
       count(*)                  AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two order dimensions."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            pround(F.sum("o_totalprice"), 2).alias("sum_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


ORACLE_AGG_CUBE = """
SELECT o_orderstatus, o_orderpriority,
       floor((sum(o_totalprice)) * 100 + 0.5) / 100.0 AS sum_price,
       count(*)                    AS n_orders
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (subset of cube) via groupingSets API."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            pround(F.sum("o_totalprice"), 2).alias("sum_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


ORACLE_AGG_GROUPING_SETS = """
SELECT o_orderstatus, o_orderpriority,
       floor((sum(o_totalprice)) * 100 + 0.5) / 100.0 AS sum_price,
       count(*)                    AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------

def join_broadcast_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style star join: fact lineitem joined through orders →
    customer → nation → region, dims explicitly broadcast (zero fact
    shuffle for the dim joins at scale)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .where(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(
            pround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


ORACLE_JOIN_BROADCAST_STAR = """
SELECT n_name,
       floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100.0 AS revenue,
       count(*)                                          AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


def join_shuffle_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact sort-merge join (lineitem ⋈ orders) — the shuffle
    join path; AQE picks partition counts and handles skew."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            pround(F.sum("l_extendedprice"), 2).alias("sum_price"),
            # Rounded-sum-divide: 2-dp inputs sum exactly after the
            # 2-dp pre-round, so the 4-dp mean never sits on an
            # engine-order-dependent half-step.
            pround(pround(F.sum("l_discount"), 2) / F.count(F.lit(1)), 4).alias(
                "avg_disc"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


ORACLE_JOIN_SHUFFLE_LARGE = """
SELECT o_orderstatus,
       floor((sum(l_extendedprice)) * 100 + 0.5) / 100.0 AS sum_price,
       floor(((floor(sum(l_discount) * 100 + 0.5) / 100.0) / count(*)) * 10000 + 0.5) / 10000.0 AS avg_disc,
       count(*)                       AS n_rows
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
"""


def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi: customers having at least one urgent order."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT")
    return (
        customer.join(urgent, customer.c_custkey == urgent.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


ORACLE_JOIN_SEMI = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
"""


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti: customers with no orders at all."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", pround("c_acctbal", 2).alias("acctbal"))
    )


ORACLE_JOIN_ANTI = """
SELECT c_custkey, c_name, floor((c_acctbal) * 100 + 0.5) / 100.0 AS acctbal
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join preserving order-less customers, with null-safe
    aggregation over the outer side."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.countDistinct("c_custkey").alias("n_customers"),
            pround(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("sum_price"),
        )
    )


ORACLE_JOIN_OUTER = """
SELECT c_mktsegment,
       count(o_orderkey)         AS n_orders,
       count(DISTINCT c_custkey) AS n_customers,
       floor((coalesce(sum(o_totalprice), 0.0)) * 100 + 0.5) / 100.0 AS sum_price
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_mktsegment
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: top 10 orders by revenue for one segment —
    broadcast dim filter, shuffle join, agg, deterministic top-k."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-06-01").cast("timestamp_ntz")
    building = customer.where(F.col("c_mktsegment") == "BUILDING")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(building), orders.o_custkey == building.c_custkey)
        .where((F.col("o_orderdate") < cutoff) & (F.col("l_shipdate") > cutoff))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            pround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


ORACLE_Q3 = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100.0 AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01'
  AND l_shipdate  > TIMESTAMP '1998-06-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------

def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer top-3 orders by price (row_number over a window —
    one shuffle on the partition key, rank filter pushed below the
    window by Catalyst's WindowGroupLimit at scale)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            pround("o_totalprice", 2).alias("totalprice"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


ORACLE_WINDOW_TOPK = """
SELECT o_custkey, o_orderkey, floor((o_totalprice) * 100 + 0.5) / 100.0 AS totalprice, CAST(rk AS INTEGER) AS rk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders
) WHERE rk <= 3
"""


def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum + lag per customer ordered by date (frame ops).

    Exactness discipline (round 16, the ``events_anomaly_zscore``
    pattern): the 2-dp prices enter the frames as INTEGER CENTS, so
    the cumulative sum and the 3-row moving sum/count are exact
    integers regardless of how each engine evaluates the frame
    (Spark re-scans; DuckDB's segment tree would order a float
    accumulation differently — a half-cent boundary hazard under the
    old windowed ``F.avg`` of doubles).  The dollar outputs are then
    single double operations over identical integers: cum/100,
    lag/100, and floor(Σc/n + 0.5)/100 for the half-up 2-dp moving
    mean.  Exact while a customer's cumulative cents stay inside
    2^53 (~9e13 dollars per customer — eight orders above sf100)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_mov = w.rowsBetween(-2, Window.currentRow)
    rows = orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        quantn(F.col("o_totalprice"), 2).alias("cents"),
    )
    return rows.select(
        "o_custkey",
        "o_orderkey",
        (F.sum("cents").over(w_cum).cast("double") / F.lit(100.0)).alias(
            "running_total"
        ),
        (F.lag("cents", 1).over(w).cast("double") / F.lit(100.0)).alias(
            "prev_price"
        ),
        (
            F.floor(
                F.sum("cents").over(w_mov).cast("double")
                / F.count(F.lit(1)).over(w_mov)
                + F.lit(0.5)
            )
            / F.lit(100.0)
        ).alias("moving_avg3"),
    )


ORACLE_WINDOW_RUNNING = """
SELECT o_custkey, o_orderkey,
       CAST(sum(cents) OVER w_cum AS DOUBLE) / 100.0 AS running_total,
       CAST(lag(cents, 1) OVER w_ord AS DOUBLE) / 100.0 AS prev_price,
       floor(CAST(sum(cents) OVER w_mov AS DOUBLE)
             / (count(*) OVER w_mov) + 0.5) / 100.0 AS moving_avg3
FROM (SELECT o_custkey, o_orderkey, o_orderdate,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders)
WINDOW
  w_ord AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
  w_cum AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
  w_mov AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


def window_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank/ntile over part prices within brand."""
    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return part.select(
        "p_brand",
        "p_partkey",
        F.rank().over(w).cast("int").alias("price_rank"),
        F.dense_rank().over(w).cast("int").alias("price_dense_rank"),
        F.ntile(4).over(w).cast("int").alias("price_quartile"),
    )


ORACLE_WINDOW_RANK_DENSE = """
SELECT p_brand, p_partkey,
       CAST(rank()       OVER w AS INTEGER) AS price_rank,
       CAST(dense_rank() OVER w AS INTEGER) AS price_dense_rank,
       CAST(ntile(4)     OVER w AS INTEGER) AS price_quartile
FROM part
WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC)
"""


# ---------------------------------------------------------------------------
# Sort / limit / set ops
# ---------------------------------------------------------------------------

def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k → TakeOrderedAndProject (no full sort)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(15)
        .select("o_orderkey", "o_custkey", pround("o_totalprice", 2).alias("totalprice"))
    )


ORACLE_TOPK_GLOBAL = """
SELECT o_orderkey, o_custkey, floor((o_totalprice) * 100 + 0.5) / 100.0 AS totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 15
"""


def set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over customer-key sets, tagged."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    building = customer.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    with_urgent = (
        orders.where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    return (
        building.intersect(with_urgent).withColumn("tag", F.lit("both"))
        .unionAll(building.exceptAll(with_urgent.intersect(building)).withColumn("tag", F.lit("building_only")))
    )


ORACLE_SET_OPERATIONS = """
WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
     with_urgent AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
SELECT c_custkey, 'both' AS tag FROM (SELECT c_custkey FROM building INTERSECT SELECT c_custkey FROM with_urgent)
UNION ALL
SELECT c_custkey, 'building_only' AS tag
FROM (SELECT c_custkey FROM building EXCEPT ALL (SELECT c_custkey FROM with_urgent INTERSECT SELECT c_custkey FROM building))
"""


# ---------------------------------------------------------------------------
# Scalar function surface
# ---------------------------------------------------------------------------

def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String / date / math built-ins exercised in one projection
    (all whole-stage-codegen'd JVM expressions — no Python)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.upper(F.substring("o_orderpriority", 1, 3)).alias("prio_code"),
        F.length("o_orderstatus").cast("int").alias("status_len"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.month("o_orderdate").cast("int").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("int").alias("order_day"),
        pround(F.sqrt(F.abs(F.col("o_totalprice"))), 4).alias("sqrt_price"),
        pround(F.ln(F.col("o_totalprice") + 1.0), 4).alias("ln_price"),
        pround(F.pow(F.col("o_totalprice"), F.lit(0.25)), 4).alias("price_4rt"),
        (F.col("o_orderkey") % 7).alias("key_mod7"),
        F.when(F.col("o_totalprice") > 100000, "high")
        .when(F.col("o_totalprice") > 10000, "mid")
        .otherwise("low")
        .alias("price_band"),
    )


ORACLE_SCALAR_FUNCTIONS = """
SELECT o_orderkey,
       upper(substring(o_orderpriority, 1, 3)) AS prio_code,
       CAST(length(o_orderstatus) AS INTEGER)  AS status_len,
       concat_ws('-', o_orderstatus, o_orderpriority) AS status_prio,
       CAST(year(o_orderdate) AS INTEGER)  AS order_year,
       CAST(month(o_orderdate) AS INTEGER) AS order_month,
       CAST(day(o_orderdate) AS INTEGER)   AS order_day,
       floor((sqrt(abs(o_totalprice))) * 10000 + 0.5) / 10000.0   AS sqrt_price,
       floor((ln(o_totalprice + 1.0)) * 10000 + 0.5) / 10000.0    AS ln_price,
       floor((pow(o_totalprice, 0.25)) * 10000 + 0.5) / 10000.0   AS price_4rt,
       o_orderkey % 7                      AS key_mod7,
       CASE WHEN o_totalprice > 100000 THEN 'high'
            WHEN o_totalprice > 10000  THEN 'mid'
            ELSE 'low' END                 AS price_band
FROM orders
"""


def json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extract the numeric field from events.props JSON payloads.

    Uses get_json_object (JVM JSON path) in Spark; the oracle uses a
    regexp so it does not depend on DuckDB's JSON extension.
    """
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# DuckDB sum(BIGINT) widens to HUGEINT (pandas float64/object) — cast the
# aggregate back to BIGINT so both engines emit int64 columns.
ORACLE_JSON_EXTRACTION = """
SELECT event_type,
       CAST(sum(TRY_CAST(regexp_extract(props, '"k": (-?\\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
       max(TRY_CAST(regexp_extract(props, '"k": (-?\\d+)', 1) AS BIGINT)) AS max_k,
       count(*) AS n
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

QUERIES = {
    "scan_filter_project": scan_filter_project,
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "agg_distinct": agg_distinct,
    "agg_approx_distinct": agg_approx_distinct,
    "agg_rollup": agg_rollup,
    "agg_cube": agg_cube,
    "agg_grouping_sets": agg_grouping_sets,
    "join_broadcast_star": join_broadcast_star,
    "join_shuffle_large": join_shuffle_large,
    "join_semi": join_semi,
    "join_anti": join_anti,
    "join_outer": join_outer,
    "window_topk_per_group": window_topk_per_group,
    "window_running": window_running,
    "window_rank_dense": window_rank_dense,
    "topk_global": topk_global,
    "set_operations": set_operations,
    "scalar_functions": scalar_functions,
    "json_extraction": json_extraction,
}

ORACLE = {
    "scan_filter_project": ORACLE_SCAN_FILTER_PROJECT,
    "q1_pricing_summary": ORACLE_Q1,
    "q3_shipping_priority": ORACLE_Q3,
    "agg_distinct": ORACLE_AGG_DISTINCT,
    "agg_rollup": ORACLE_AGG_ROLLUP,
    "agg_cube": ORACLE_AGG_CUBE,
    "agg_grouping_sets": ORACLE_AGG_GROUPING_SETS,
    "join_broadcast_star": ORACLE_JOIN_BROADCAST_STAR,
    "join_shuffle_large": ORACLE_JOIN_SHUFFLE_LARGE,
    "join_semi": ORACLE_JOIN_SEMI,
    "join_anti": ORACLE_JOIN_ANTI,
    "join_outer": ORACLE_JOIN_OUTER,
    "window_topk_per_group": ORACLE_WINDOW_TOPK,
    "window_running": ORACLE_WINDOW_RUNNING,
    "window_rank_dense": ORACLE_WINDOW_RANK_DENSE,
    "topk_global": ORACLE_TOPK_GLOBAL,
    "set_operations": ORACLE_SET_OPERATIONS,
    "scalar_functions": ORACLE_SCALAR_FUNCTIONS,
    "json_extraction": ORACLE_JSON_EXTRACTION,
    # Sketch estimates are engine-specific, so the approx/sketch keys
    # are oracled as BOUNDS CHECKS: exact values + within-bound
    # booleans the oracle pins to literal TRUE.
    "agg_approx_distinct": ORACLE_AGG_APPROX_DISTINCT,
}


# ---------------------------------------------------------------------------
# Additional aggregate / window surface
# ---------------------------------------------------------------------------

def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts per priority, one column per status.

    Spark's pivot plans a single aggregation with conditional
    projections — identical shape to the oracle's CASE aggregation
    (explicit values list keeps the schema static, required for both
    determinism and streaming reuse)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
            F.coalesce("P", F.lit(0)).alias("n_p"),
        )
    )


ORACLE_AGG_PIVOT = """
SELECT o_orderpriority,
       CAST(coalesce(sum(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS BIGINT) AS n_f,
       CAST(coalesce(sum(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS BIGINT) AS n_o,
       CAST(coalesce(sum(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS BIGINT) AS n_p
FROM orders GROUP BY o_orderpriority
"""


def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` == SQL
    percentile_cont == DuckDB ``quantile_cont``) per order status."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        pround(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        pround(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        pround(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99"),
        pround(F.min("o_totalprice"), 4).alias("pmin"),
        pround(F.max("o_totalprice"), 4).alias("pmax"),
    )


ORACLE_AGG_PERCENTILES = """
SELECT o_orderstatus,
       floor((quantile_cont(o_totalprice, 0.5)) * 10000 + 0.5) / 10000.0  AS p50,
       floor((quantile_cont(o_totalprice, 0.9)) * 10000 + 0.5) / 10000.0  AS p90,
       floor((quantile_cont(o_totalprice, 0.99)) * 10000 + 0.5) / 10000.0 AS p99,
       floor((min(o_totalprice)) * 10000 + 0.5) / 10000.0 AS pmin,
       floor((max(o_totalprice)) * 10000 + 0.5) / 10000.0 AS pmax
FROM orders GROUP BY o_orderstatus
"""


def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: percent_rank / cume_dist /
    first & last value frames over supplier balances."""
    supplier = _t(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return supplier.select(
        "s_suppkey",
        F.col("s_nationkey").cast("int").alias("nationkey"),
        pround(F.percent_rank().over(w), 6).alias("bal_pct_rank"),
        pround(F.cume_dist().over(w), 6).alias("bal_cume_dist"),
        pround(F.first("s_acctbal").over(frame), 2).alias("nation_min_bal"),
        pround(F.last("s_acctbal").over(frame), 2).alias("nation_max_bal"),
    )


ORACLE_WINDOW_DISTRIBUTION = """
SELECT s_suppkey,
       CAST(s_nationkey AS INTEGER) AS nationkey,
       floor((percent_rank() OVER w) * 1000000 + 0.5) / 1000000.0 AS bal_pct_rank,
       floor((cume_dist() OVER w) * 1000000 + 0.5) / 1000000.0    AS bal_cume_dist,
       floor((first_value(s_acctbal) OVER wf) * 100 + 0.5) / 100.0 AS nation_min_bal,
       floor((last_value(s_acctbal)  OVER wf) * 100 + 0.5) / 100.0 AS nation_max_bal
FROM supplier
WINDOW
  w  AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey),
  wf AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


QUERIES.update(
    {
        "agg_pivot": agg_pivot,
        "agg_percentiles": agg_percentiles,
        "window_distribution": window_distribution,
    }
)
ORACLE.update(
    {
        "agg_pivot": ORACLE_AGG_PIVOT,
        "agg_percentiles": ORACLE_AGG_PERCENTILES,
        "window_distribution": ORACLE_WINDOW_DISTRIBUTION,
    }
)


def nested_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-data lane: per-order quantity arrays + higher-order
    functions (transform / filter / aggregate / array_max).

    ``collect_list(struct)`` + ``array_sort`` gives a deterministic
    per-key array (struct sort is by field order: linenumber first);
    downstream array math is evaluated element-wise with no extra
    shuffle. The fold in ``aggregate`` runs in linenumber order, so
    the float sum is bit-identical to DuckDB's ordered list_aggregate.
    """
    # Keyed scan_parallel: the local test file is 3 splits, which
    # would run the collect_list aggregate 3-wide; pre-partitioning on
    # the group key spreads it across all cores AND satisfies the
    # groupBy's distribution (no second exchange). At real scale the
    # scan already has enough splits and this is a plain scan.
    li = scan_parallel(spark, sf_dir, "lineitem", "l_orderkey").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    arr = F.array_sort(
        F.collect_list(F.struct(F.col("l_linenumber").alias("ln"), F.col("l_quantity").alias("q")))
    )
    grouped = li.groupBy("l_orderkey").agg(arr.alias("arr"))
    # Materialize the quantity projection ONCE in its own Project:
    # three consumers reference it, and higher-order lambdas run
    # interpreted — CollapseProject keeps a multiply-referenced
    # non-cheap expression in its own stage instead of inlining the
    # transform three times.
    qarr = grouped.select(
        "l_orderkey",
        F.size(F.col("arr")).cast("long").alias("n_items"),
        F.transform(F.col("arr"), lambda x: x["q"]).alias("qarr"),
    )
    q = F.col("qarr")
    return qarr.select(
        "l_orderkey",
        "n_items",
        F.size(F.filter(q, lambda v: v > 25)).cast("long").alias("n_big"),
        pround(F.aggregate(q, F.lit(0.0), lambda acc, v: acc + v), 2).alias("total_qty"),
        F.array_max(q).alias("max_qty"),
    )


ORACLE_NESTED_ARRAY_OPS = """
WITH arr AS (
  SELECT l_orderkey, list(l_quantity ORDER BY l_linenumber) AS qarr
  FROM lineitem GROUP BY l_orderkey
)
SELECT l_orderkey,
       CAST(len(qarr) AS BIGINT)                          AS n_items,
       CAST(len(list_filter(qarr, q -> q > 25)) AS BIGINT) AS n_big,
       floor((list_aggregate(qarr, 'sum')) * 100 + 0.5) / 100.0 AS total_qty,
       list_aggregate(qarr, 'max')                        AS max_qty
FROM arr
"""


def subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery surface via the SQL front-end: EXISTS with
    a nested scalar subquery. Catalyst rewrites the EXISTS into a
    left-semi join and the scalar subquery into a one-row broadcast —
    no driver-side evaluation anywhere."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("sq_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("sq_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name, c_mktsegment
        FROM sq_customer c
        WHERE EXISTS (
          SELECT 1 FROM sq_orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_totalprice > (SELECT 0.95 * max(o_totalprice) FROM sq_orders)
        )
        """
    )


ORACLE_SUBQUERY_EXISTS = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_totalprice > (SELECT 0.95 * max(o_totalprice) FROM orders)
)
"""


QUERIES.update(
    {
        "nested_array_ops": nested_array_ops,
        "subquery_exists": subquery_exists,
    }
)
ORACLE.update(
    {
        "nested_array_ops": ORACLE_NESTED_ARRAY_OPS,
        "subquery_exists": ORACLE_SUBQUERY_EXISTS,
    }
)


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a
    threshold, joined back to customer, top-20 by price.

    The HAVING filter runs on the lineitem aggregate *before* the
    joins, so only qualifying orders (a tiny fraction) ever reach the
    join — at scale this ordering is the difference between joining
    600 M rows and joining a few thousand. Customer is broadcast.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(pround(F.sum("l_quantity"), 2).alias("sum_qty"))
        .where(F.col("sum_qty") > 300)
    )
    return (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"])
        .select("c_name", "c_custkey", "o_orderkey", "o_totalprice", "sum_qty")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


ORACLE_Q18_LARGE_ORDERS = """
WITH big AS (
  SELECT l_orderkey, floor((sum(l_quantity)) * 100 + 0.5) / 100.0 AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING floor((sum(l_quantity)) * 100 + 0.5) / 100.0 > 300
)
SELECT c_name, c_custkey, o_orderkey, o_totalprice, sum_qty
FROM big
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 20
"""


QUERIES["q18_large_orders"] = q18_large_orders
ORACLE["q18_large_orders"] = ORACLE_Q18_LARGE_ORDERS


#: Accepted relative value error of the GK approx percentile vs the
#: exact interpolated percentile.  accuracy=1000 bounds RANK error at
#: n/1000; o_totalprice is smooth enough that the value error stays
#: far inside 2% at every SF tested (deterministic sketch, no RNG).
_GK_REL_ERR_BOUND = 0.02


def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approximate quantile sketch per order status —
    the mergeable-sketch lane next to the exact ``agg_percentiles``
    (at 100 TB exact percentiles need a full sort per group; the
    sketch is one pass, partial+final mergeable).  Hash-oracled as a
    BOUNDS CHECK: sketch internals are engine-specific, so the output
    is the exact interpolated percentile plus a boolean asserting the
    sketch value landed within ``_GK_REL_ERR_BOUND`` of it; the oracle
    computes the same exact percentiles with literal TRUEs.  The exact
    percentile rides along as the test-scale audit yardstick only."""
    orders = _t(spark, sf_dir, "orders")
    agged = orders.groupBy("o_orderstatus").agg(
        F.expr(
            "approx_percentile(o_totalprice, array(0.5, 0.9, 0.99), 1000)"
        ).alias("ap"),
        F.expr("percentile(o_totalprice, array(0.5, 0.9, 0.99))").alias("ep"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return agged.select(
        "o_orderstatus",
        pround(F.col("ep")[0], 4).alias("p50_exact"),
        pround(F.col("ep")[1], 4).alias("p90_exact"),
        pround(F.col("ep")[2], 4).alias("p99_exact"),
        "n_orders",
        (F.abs(F.col("ap")[0] - F.col("ep")[0]) / F.col("ep")[0]
         <= _GK_REL_ERR_BOUND).alias("p50_within_bound"),
        (F.abs(F.col("ap")[1] - F.col("ep")[1]) / F.col("ep")[1]
         <= _GK_REL_ERR_BOUND).alias("p90_within_bound"),
        (F.abs(F.col("ap")[2] - F.col("ep")[2]) / F.col("ep")[2]
         <= _GK_REL_ERR_BOUND).alias("p99_within_bound"),
    )


ORACLE_AGG_APPROX_QUANTILE = """
SELECT o_orderstatus,
       floor((quantile_cont(o_totalprice, 0.5)) * 10000 + 0.5) / 10000.0  AS p50_exact,
       floor((quantile_cont(o_totalprice, 0.9)) * 10000 + 0.5) / 10000.0  AS p90_exact,
       floor((quantile_cont(o_totalprice, 0.99)) * 10000 + 0.5) / 10000.0 AS p99_exact,
       count(*) AS n_orders,
       TRUE AS p50_within_bound,
       TRUE AS p90_within_bound,
       TRUE AS p99_within_bound
FROM orders
GROUP BY o_orderstatus
"""


QUERIES["agg_approx_quantile"] = agg_approx_quantile
ORACLE["agg_approx_quantile"] = ORACLE_AGG_APPROX_QUANTILE


def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt): per-nation supplier/customer account
    balances as (nation, metric, value) rows — the inverse of
    ``agg_pivot``, used to normalize wide feature tables before
    per-metric aggregation. ``DataFrame.unpivot`` is a zero-shuffle
    row expansion."""
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    wide = (
        cust.groupBy("c_nationkey")
        .agg(pround(F.sum("c_acctbal"), 2).alias("cust_bal"))
        .join(
            supp.groupBy("s_nationkey").agg(pround(F.sum("s_acctbal"), 2).alias("supp_bal")),
            F.col("c_nationkey") == F.col("s_nationkey"),
            "left",
        )
        .select(F.col("c_nationkey").alias("nationkey"), "cust_bal", "supp_bal")
    )
    return wide.unpivot(
        ids=["nationkey"],
        values=["cust_bal", "supp_bal"],
        variableColumnName="metric",
        valueColumnName="balance",
    )


ORACLE_AGG_UNPIVOT = """
WITH wide AS (
  SELECT c.c_nationkey AS nationkey, c.cust_bal, s.supp_bal
  FROM (SELECT c_nationkey, floor((sum(c_acctbal)) * 100 + 0.5) / 100.0 AS cust_bal
        FROM customer GROUP BY c_nationkey) c
  LEFT JOIN (SELECT s_nationkey, floor((sum(s_acctbal)) * 100 + 0.5) / 100.0 AS supp_bal
             FROM supplier GROUP BY s_nationkey) s
    ON c.c_nationkey = s.s_nationkey
)
SELECT nationkey, metric, balance
FROM wide UNPIVOT INCLUDE NULLS (balance FOR metric IN (cust_bal, supp_bal))
"""


def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-to-event deltas per user: lag/lead navigation — the
    inter-arrival-time feature every sessionization/abuse pipeline
    derives. One shuffle on user_id, then narrow."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.lag("event_id", 1).over(w).alias("prev_event_id"),
        F.lead("event_id", 1).over(w).alias("next_event_id"),
        # Integer microseconds on both sides — per-timestamp second
        # truncation (unix_timestamp) disagrees with DuckDB's
        # truncate-the-difference by ±1s.
        (F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(F.lag(F.col("ts").cast("timestamp"), 1).over(w)))
        .alias("us_since_prev"),
    )


ORACLE_WINDOW_LAG_LEAD = """
SELECT event_id, user_id, ts,
       lag(event_id, 1)  OVER w AS prev_event_id,
       lead(event_id, 1) OVER w AS next_event_id,
       epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) AS us_since_prev
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


QUERIES.update(
    {
        "agg_unpivot": agg_unpivot,
        "window_lag_lead": window_lag_lead,
    }
)
ORACLE.update(
    {
        "agg_unpivot": ORACLE_AGG_UNPIVOT,
        "window_lag_lead": ORACLE_WINDOW_LAG_LEAD,
    }
)


# ---------------------------------------------------------------------------
# Deep TPC-H query shapes (multi-way joins, correlated subqueries)
# ---------------------------------------------------------------------------

def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue from local suppliers (customer and
    supplier in the same nation) within one region and year.

    Six-way join. The fact chain lineitem joins orders shuffles once on
    orderkey; every dimension (customer, supplier, nation, region) is
    broadcast, so the fact side never reshuffles for them. The
    region/date filters sit directly on scan columns (pushed down),
    and the same-nation predicate `c_nationkey = s_nationkey` prunes
    at the join, not after.

    Revenue is summed exactly: price and discount are cast to
    DECIMAL(15,2), so each term has 4 exact decimals and the sum does
    not depend on the order rows arrive in. A double sum lands on
    either side of a half cent depending on that order, and Spark and
    DuckDB sum in different orders. The exact sum is rounded half up
    to 2 dp, then cast to double.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    lo = F.lit("1996-01-01").cast("timestamp_ntz")
    hi = F.lit("1998-01-01").cast("timestamp_ntz")
    asia = (
        nation.join(
            F.broadcast(region.where(F.col("r_name") == "ASIA")),
            nation.n_regionkey == region.r_regionkey,
        ).select("n_nationkey", "n_name")
    )
    return (
        li.join(
            orders.where((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)),
            li.l_orderkey == orders.o_orderkey,
        )
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(supplier),
            (li.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(asia), supplier.s_nationkey == asia.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(15,2)")
                    * (1 - F.col("l_discount").cast("decimal(15,2)"))
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )


ORACLE_Q5 = """
SELECT n_name,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2))
                      * (1 - CAST(l_discount AS DECIMAL(15,2)))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nation pairs by
    ship year. Two independent broadcast dimension chains (supplier
    nation, customer nation) hang off the one fact-fact shuffle join;
    the pair predicate is evaluated at join time."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7") | (
        F.col("supp_nation") == "NATION_7"
    ) & (F.col("cust_nation") == "NATION_3")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(
            pround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("volume")
        )
    )


ORACLE_Q7 = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS ship_year,
       floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100.0 AS volume
FROM lineitem
JOIN orders    ON l_orderkey = o_orderkey
JOIN customer  ON o_custkey  = c_custkey
JOIN supplier  ON l_suppkey  = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
   OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by lost revenue on returned
    items in a quarter. Agg before the final ordering; deterministic
    tie-break on custkey for the limit."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    lo = F.lit("1997-01-01").cast("timestamp_ntz")
    hi = F.lit("1997-07-01").cast("timestamp_ntz")
    return (
        li.where(F.col("l_returnflag") == "R")
        .join(
            orders.where((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)),
            li.l_orderkey == orders.o_orderkey,
        )
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            pround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("lost_revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            pround("c_acctbal", 2).alias("acctbal"),
            "n_name",
            "lost_revenue",
        )
        .orderBy(F.desc("lost_revenue"), F.asc("c_custkey"))
        .limit(20)
    )


ORACLE_Q10 = """
SELECT c_custkey, c_name,
       floor((c_acctbal) * 100 + 0.5) / 100.0 AS acctbal,
       n_name,
       floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100.0 AS lost_revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1997-07-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY lost_revenue DESC, c_custkey ASC
LIMIT 20
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: share of revenue from promo parts in a window.

    Conditional aggregation over one broadcast join. Numerator and
    denominator are rounded *before* the division so the final double
    division is bit-identical across engines (IEEE 754 is
    deterministic on identical inputs; raw double sums are not, their
    order differs)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    lo = F.lit("1997-03-01").cast("timestamp_ntz")
    hi = F.lit("1997-09-01").cast("timestamp_ntz")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    agg = (
        li.where((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            pround(F.sum(F.when(F.col("p_type") == "PROMO", net).otherwise(0.0)), 2).alias(
                "promo_rev"
            ),
            pround(F.sum(net), 2).alias("total_rev"),
        )
    )
    return agg.select(
        "promo_rev",
        "total_rev",
        pround(F.lit(100.0) * F.col("promo_rev") / F.col("total_rev"), 6).alias(
            "promo_pct"
        ),
    )


ORACLE_Q14 = """
WITH agg AS (
  SELECT
    floor((sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)) * 100 + 0.5) / 100.0 AS promo_rev,
    floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100.0 AS total_rev
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-03-01'
    AND l_shipdate <  TIMESTAMP '1997-09-01'
)
SELECT promo_rev, total_rev,
       floor((100.0 * promo_rev / total_rev) * 1000000 + 0.5) / 1000000.0 AS promo_pct
FROM agg
"""


def subquery_scalar_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H Q17 shape): parts priced at
    the minimum retail price of their brand. Written as SQL so
    Catalyst's subquery decorrelation rewrites it into an aggregate +
    join — no per-row subquery execution ever happens (check the plan:
    one Aggregate on brand, one join, zero SubqueryExec nodes)."""
    _t(spark, sf_dir, "part").createOrReplaceTempView("part_v")
    return spark.sql(
        """
        SELECT p_partkey, p_name, p_brand,
               floor((p_retailprice) * 100 + 0.5) / double(100) AS retailprice
        FROM part_v p
        WHERE p_retailprice = (
          SELECT min(p2.p_retailprice) FROM part_v p2 WHERE p2.p_brand = p.p_brand
        )
        """
    )


ORACLE_SUBQUERY_SCALAR_CORR = """
SELECT p_partkey, p_name, p_brand,
       floor((p_retailprice) * 100 + 0.5) / 100.0 AS retailprice
FROM part p
WHERE p_retailprice = (
  SELECT min(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand
)
"""


QUERIES.update(
    {
        "q5_local_supplier_volume": q5_local_supplier_volume,
        "q7_volume_shipping": q7_volume_shipping,
        "q10_returned_items": q10_returned_items,
        "q14_promo_revenue": q14_promo_revenue,
        "subquery_scalar_corr": subquery_scalar_corr,
    }
)
ORACLE.update(
    {
        "q5_local_supplier_volume": ORACLE_Q5,
        "q7_volume_shipping": ORACLE_Q7,
        "q10_returned_items": ORACLE_Q10,
        "q14_promo_revenue": ORACLE_Q14,
        "subquery_scalar_corr": ORACLE_SUBQUERY_SCALAR_CORR,
    }
)


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: revenue delta from a discount tweak — a pure
    scan-side query. Every predicate (date band, discount band,
    quantity cap) pushes into the parquet reader, so at 100 TB this
    reads only matching row groups via column statistics; the agg is
    a single partial+final sum."""
    li = _t(spark, sf_dir, "lineitem")
    lo = F.lit("1996-01-01").cast("timestamp_ntz")
    hi = F.lit("1997-01-01").cast("timestamp_ntz")
    return (
        li.where(
            (F.col("l_shipdate") >= lo)
            & (F.col("l_shipdate") < hi)
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            pround(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


ORACLE_Q6 = """
SELECT floor((sum(l_extendedprice * l_discount)) * 100 + 0.5) / 100.0 AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


QUERIES["q6_forecast_revenue"] = q6_forecast_revenue
ORACLE["q6_forecast_revenue"] = ORACLE_Q6


def agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-moment aggregates: sample variance/stddev,
    correlation, covariance per group — one-pass mergeable
    formulations (Welford/co-moment updates), so they partial+final
    like any hash agg; no second pass over the data at any scale.
    Both engines use numerically stable co-moment merges, so results
    agree to well past the 6-8 dp the oracle rounds to."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        pround(F.var_samp("l_quantity"), 6).alias("var_qty"),
        pround(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        pround(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        pround(F.covar_samp("l_quantity", "l_discount"), 8).alias("cov_qty_disc"),
    )


ORACLE_AGG_MOMENTS = """
SELECT l_returnflag,
       floor(var_samp(l_quantity)    * 1000000 + 0.5) / 1000000.0 AS var_qty,
       floor(stddev_samp(l_quantity) * 1000000 + 0.5) / 1000000.0 AS sd_qty,
       floor(corr(l_quantity, l_extendedprice) * 1000000 + 0.5) / 1000000.0 AS corr_qty_price,
       floor(covar_samp(l_quantity, l_discount) * 100000000 + 0.5) / 100000000.0 AS cov_qty_disc
FROM lineitem
GROUP BY l_returnflag
"""


QUERIES["agg_moments"] = agg_moments
ORACLE["agg_moments"] = ORACLE_AGG_MOMENTS


def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive multi-column predicates spanning
    both join sides. Catalyst extracts the common `p_brand IN (...)` /
    quantity bounds it can push below the join, keeps the full
    disjunction as the post-join filter, and still broadcasts the dim
    — the shape that punishes engines which give up on OR-predicate
    pushdown and scan everything."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(5, 30)
        & F.col("l_quantity").between(10, 35)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(10, 50)
        & F.col("l_quantity").between(20, 50)
    )
    return j.where(cond).agg(
        F.count(F.lit(1)).alias("n"),
        pround(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


ORACLE_Q19 = """
SELECT count(*) AS n,
       floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100.0 AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 30 AND l_quantity BETWEEN 10 AND 35)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 50 AND l_quantity BETWEEN 20 AND 50)
"""


QUERIES["q19_discounted_revenue"] = q19_discounted_revenue
ORACLE["q19_discounted_revenue"] = ORACLE_Q19


# ---------------------------------------------------------------------------
# TPC-H deep-shape batch 2: Q4 / Q8 / Q9 / Q13 / Q15 / Q21 / Q22
# (adapted to the driver schema: lineitem has no commit/receipt dates
# and there is no partsupp table, so the correlated predicates use
# l_shipdate lag and a retailprice-derived cost instead)
# ---------------------------------------------------------------------------

def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: priority distribution of orders with at least
    one late-shipped line. The correlated EXISTS with a non-equi
    cross-table predicate (l_shipdate > o_orderdate + 60 days) becomes
    a LEFT SEMI join — the fact table is probed once, no duplicate
    orders survive, and the semi join shuffles only the two join keys
    at scale."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    lo = F.lit("1996-01-01").cast("timestamp_ntz")
    hi = F.lit("1997-01-01").cast("timestamp_ntz")
    o = orders.where((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
    late = (li["l_orderkey"] == o["o_orderkey"]) & (
        li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


ORACLE_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's market share of PROMO-part revenue
    inside a region, per order year. Eight relations; nation joins in
    twice (customer side gates the region, supplier side labels the
    volume). Every dimension broadcasts, so the only shuffle is the
    lineitem ⋈ orders fact-fact join; the share is a conditional-sum /
    sum ratio in one aggregation pass. Numerator and denominator are
    rounded before the divide so the quotient is bit-identical across
    engines (IEEE division of identical doubles)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    part = _t(spark, sf_dir, "part")
    lo = F.lit("1996-01-01").cast("timestamp_ntz")
    hi = F.lit("1998-01-01").cast("timestamp_ntz")
    n1 = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    agg = (
        li.join(
            orders.where((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)),
            li["l_orderkey"] == orders["o_orderkey"],
        )
        .join(F.broadcast(part.where(F.col("p_type") == "PROMO")),
              li["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(supplier), li["l_suppkey"] == supplier["s_suppkey"])
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(region.where(F.col("r_name") == "ASIA")),
              F.col("cn_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            pround(
                F.sum(F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(F.lit(0.0))),
                2,
            ).alias("nation_volume"),
            pround(F.sum(vol), 2).alias("total_volume"),
        )
    )
    return agg.select(
        "o_year",
        "nation_volume",
        "total_volume",
        (F.col("nation_volume") / F.col("total_volume")).alias("mkt_share"),
    )


ORACLE_Q8 = """
SELECT o_year, nation_volume, total_volume,
       nation_volume / total_volume AS mkt_share
FROM (
  SELECT o_year,
         floor(sum(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END) * 100 + 0.5) / 100.0 AS nation_volume,
         floor(sum(volume) * 100 + 0.5) / 100.0 AS total_volume
  FROM (
    SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
           l_extendedprice * (1 - l_discount) AS volume,
           n2.n_name AS supp_nation
    FROM lineitem
    JOIN orders    ON l_orderkey = o_orderkey
    JOIN part      ON l_partkey  = p_partkey
    JOIN customer  ON o_custkey  = c_custkey
    JOIN supplier  ON l_suppkey  = s_suppkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region    ON n1.n_regionkey = r_regionkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = 'ASIA' AND p_type = 'PROMO'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
  ) GROUP BY o_year
)
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year over a
    part-name LIKE filter. The LIKE can't push as a parquet predicate
    but prunes the broadcast part build side before the join; cost is
    derived from retailprice (no partsupp table in this schema,
    reference has no tables at all — SURVEY.md §2b)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    part = _t(spark, sf_dir, "part")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(0.1) * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(part.where(F.col("p_name").like("%red%"))),
                li["l_partkey"] == part["p_partkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(supplier), li["l_suppkey"] == supplier["s_suppkey"])
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(pround(F.sum(amount), 2).alias("sum_profit"))
    )


ORACLE_Q9 = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
       floor(sum(l_extendedprice * (1 - l_discount)
                 - 0.1 * p_retailprice * l_quantity) * 100 + 0.5) / 100.0 AS sum_profit
FROM lineitem
JOIN part     ON l_partkey  = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey  = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, year(o_orderdate)
"""


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count,
    keeping zero-order customers via LEFT OUTER with the filter inside
    the join (filter-then-outer-join, not outer-join-then-filter —
    semantics differ). Two chained aggregations; the second one is
    tiny (one row per distinct count)."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        customer.join(
            orders.where(F.col("o_orderpriority") != "1-URGENT"),
            customer["c_custkey"] == orders["o_custkey"],
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


ORACLE_Q13 = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) GROUP BY c_count
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly
    revenue. The scalar MAX is a one-row aggregate broadcast back over
    the per-supplier revenue (no window-over-everything, which would
    funnel all rows through one task at scale); revenue is rounded
    before the max so both engines pick the same winner."""
    li = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    lo = F.lit("1997-01-01").cast("timestamp_ntz")
    hi = F.lit("1997-04-01").cast("timestamp_ntz")
    revenue = (
        li.where((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            pround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        revenue.join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(supplier), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


ORACLE_Q15 = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100.0 AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the *only* supplier with a
    returned line in a multi-supplier finished order. The classic
    double-correlated EXISTS / NOT EXISTS pair is decorrelated by hand
    into a two-level aggregate, so the fact table is scanned ONCE and
    never joined back to itself:

    1. per (order, supplier): returned-line count — map-side partial
       agg, so the shuffle carries at most one row per (order,
       supplier) pair per map task (no Expand tripling from multiple
       countDistinct aggregates);
    2. per order, over that tiny intermediate: supplier count,
       returning-supplier count, THE returning supplier's key (unique
       when n_ret_supp = 1), and its returned-line count — which IS
       the order's numwait contribution, so no probe back into
       lineitem is needed.

    Qualifying orders then join finished orders (shuffle keyed on the
    orderkey partitioning the aggregate already produced) and the
    broadcast supplier dimension."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supplier = _t(spark, sf_dir, "supplier")
    per_supp = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("rl")
    )
    order_stats = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum(F.when(F.col("rl") > 0, 1).otherwise(0)).alias("n_ret_supp"),
        F.min(F.when(F.col("rl") > 0, F.col("l_suppkey"))).alias("ret_supp"),
        F.sum("rl").alias("n_ret_lines"),
    )
    qualified = order_stats.where(
        (F.col("n_supp") > 1) & (F.col("n_ret_supp") == 1)
    )
    return (
        qualified.join(
            orders.where(F.col("o_orderstatus") == "F"),
            qualified["l_orderkey"] == orders["o_orderkey"],
        )
        .join(F.broadcast(supplier), F.col("ret_supp") == supplier["s_suppkey"])
        .groupBy("s_name")
        .agg(F.sum("n_ret_lines").cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


ORACLE_Q21 = """
SELECT s_name, count(*) AS numwait
FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
"""


def q22_global_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: rich-but-dormant customers per nation — a
    scalar AVG subquery (broadcast single-row threshold) plus a LEFT
    ANTI join against recent orders; the anti join only shuffles
    custkeys.

    Exactness (integer-cents convention — closes the r8-documented
    residual half-step window of the old rounded-sum-divide form):
    balances are pre-scaled to exact per-row integer cents; the
    threshold is the round-half-up cent average computed entirely in
    integer arithmetic ((2·S + n) div (2·n)); the rich-customer test
    is an exact integer comparison; the per-nation total divides the
    exact cent sum once.  No double ever carries engine-dependent
    summation order, so the boundary cannot fork at any scale (2·S
    tops ~3e16 cents even at a 1000× customer table — inside int64).
    """
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nations = [1, 3, 5, 7, 9, 11, 13]
    pool = customer.where(F.col("c_nationkey").isin(nations)).select(
        "c_custkey",
        "c_nationkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long").alias(
            "bal_c"
        ),
    )
    thresh = pool.where(F.col("bal_c") > 0).agg(
        F.expr("(2 * sum(bal_c) + count(1)) DIV (2 * count(1))").alias(
            "thresh_c"
        )
    )
    recent = orders.where(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp_ntz")
    )
    return (
        pool.join(F.broadcast(thresh))
        .where(F.col("bal_c") > F.col("thresh_c"))
        .join(recent, pool["c_custkey"] == recent["o_custkey"], "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntry"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum("bal_c").cast("double") / 100.0).alias("totacctbal"),
        )
    )


ORACLE_Q22 = """
WITH pool AS (
  SELECT c_custkey, c_nationkey,
         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
  FROM customer
  WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
),
t AS (
  SELECT (2 * sum(bal_c) + count(*)) // (2 * count(*)) AS thresh_c
  FROM pool WHERE bal_c > 0
)
SELECT p.c_nationkey AS cntry, count(*) AS numcust,
       CAST(sum(p.bal_c) AS DOUBLE) / 100.0 AS totacctbal
FROM pool p, t
WHERE p.bal_c > t.thresh_c
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = p.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY p.c_nationkey
"""


QUERIES.update(
    {
        "q4_order_priority": q4_order_priority,
        "q8_market_share": q8_market_share,
        "q9_product_profit": q9_product_profit,
        "q13_customer_distribution": q13_customer_distribution,
        "q15_top_supplier": q15_top_supplier,
        "q21_waiting_supplier": q21_waiting_supplier,
        "q22_global_sales": q22_global_sales,
    }
)
ORACLE.update(
    {
        "q4_order_priority": ORACLE_Q4,
        "q8_market_share": ORACLE_Q8,
        "q9_product_profit": ORACLE_Q9,
        "q13_customer_distribution": ORACLE_Q13,
        "q15_top_supplier": ORACLE_Q15,
        "q21_waiting_supplier": ORACLE_Q21,
        "q22_global_sales": ORACLE_Q22,
    }
)


def subquery_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: each customer's top-2 orders by
    price. Catalyst decorrelates the per-row ORDER BY … LIMIT into a
    row_number window over o_custkey plus one join — the rewrite that
    turns an O(customers × orders) nested loop into two shuffles, and
    exactly how a hand-written window top-k-per-group would plan. The
    tie-break on o_orderkey keeps the top-2 deterministic."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("lat_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey,
               floor(o.o_totalprice * 100 + 0.5) / double(100) AS totalprice
        FROM lat_customer c JOIN LATERAL (
          SELECT o_orderkey, o_totalprice FROM lat_orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        """
    )


ORACLE_SUBQUERY_LATERAL = """
SELECT c.c_custkey, o.o_orderkey,
       floor(o.o_totalprice * 100 + 0.5) / 100.0 AS totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
"""


QUERIES["subquery_lateral_topn"] = subquery_lateral_topn
ORACLE["subquery_lateral_topn"] = ORACLE_SUBQUERY_LATERAL


def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct counting: per-priority HLL sketches
    of o_custkey union into one global estimate without rescanning —
    the property that lets 1000 executors (or 1000 daily partitions)
    keep running distinct counts as tiny mergeable state instead of
    shuffling raw keys. Hash-oracled as a BOUNDS CHECK (estimates are
    sketch-implementation-specific; Datasketches HLL here): output is
    the exact distinct plus a boolean asserting the merged estimate
    landed within ``_DS_HLL_REL_ERR_BOUND``, which the oracle pins to
    literal TRUE."""
    orders = _t(spark, sf_dir, "orders")
    per = orders.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sk")
    )
    merged = per.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = orders.agg(F.countDistinct("o_custkey").alias("exact_distinct_custs"))
    return merged.crossJoin(exact).select(
        "exact_distinct_custs",
        (
            F.abs(F.col("est") - F.col("exact_distinct_custs"))
            / F.col("exact_distinct_custs")
            <= _DS_HLL_REL_ERR_BOUND
        ).alias("merged_est_within_bound"),
    )


#: Datasketches HLL (lgk 12) rsd ≈ 1.04/√4096 ≈ 1.6%; 3σ ≈ 5%.
_DS_HLL_REL_ERR_BOUND = 0.05

ORACLE_AGG_HLL_MERGEABLE = """
SELECT count(DISTINCT o_custkey) AS exact_distinct_custs,
       TRUE AS merged_est_within_bound
FROM orders
"""

QUERIES["agg_hll_mergeable"] = agg_hll_mergeable
ORACLE["agg_hll_mergeable"] = ORACLE_AGG_HLL_MERGEABLE


def agg_kll_quantile_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketches (Datasketches KLL): per-returnflag
    sketches of l_extendedprice fold into one global sketch via the
    binary merge, then serve p50/p90 — the same partial-state pattern
    as ``agg_hll_mergeable`` but for order statistics, which is how a
    1000-partition corpus keeps percentile dashboards without ever
    re-sorting raw values. Hash-oracled as a BOUNDS CHECK (sketch
    estimates are implementation-specific): output is the exact
    interpolated percentile pair plus booleans asserting the merged
    sketch served each within ``_KLL_REL_ERR_BOUND`` and that the
    merged sketch saw every row; the oracle pins the booleans TRUE."""
    li = _t(spark, sf_dir, "lineitem")
    per = li.groupBy("l_returnflag").agg(
        F.kll_sketch_agg_double("l_extendedprice").alias("sk")
    )
    merged = per.agg(F.collect_list("sk").alias("sks")).select(
        F.expr(
            "aggregate(slice(sks, 2, size(sks) - 1), sks[0],"
            " (acc, x) -> kll_sketch_merge_double(acc, x))"
        ).alias("mk")
    )
    est = merged.select(
        F.kll_sketch_get_quantile_double("mk", F.lit(0.5)).alias("est_p50"),
        F.kll_sketch_get_quantile_double("mk", F.lit(0.9)).alias("est_p90"),
        F.kll_sketch_get_n_double("mk").alias("sketch_n"),
    )
    exact = _exact_percentiles_distributed(
        li.select(F.col("l_extendedprice").alias("v")), {"exact_p50": 0.5, "exact_p90": 0.9}
    )
    n_rows = li.agg(F.count(F.lit(1)).alias("n_rows"))
    return (
        est.crossJoin(exact)
        .crossJoin(n_rows)
        .select(
            pround(F.col("exact_p50"), 4).alias("exact_p50"),
            pround(F.col("exact_p90"), 4).alias("exact_p90"),
            "n_rows",
            (F.abs(F.col("est_p50") - F.col("exact_p50")) / F.col("exact_p50")
             <= _KLL_REL_ERR_BOUND).alias("p50_within_bound"),
            (F.abs(F.col("est_p90") - F.col("exact_p90")) / F.col("exact_p90")
             <= _KLL_REL_ERR_BOUND).alias("p90_within_bound"),
            (F.col("sketch_n") == F.col("n_rows")).alias("sketch_saw_all_rows"),
        )
    )


def _exact_percentiles_distributed(vals: DataFrame, out: dict[str, float]) -> DataFrame:
    """EXACT interpolated percentiles (percentile_cont semantics) as a
    1-row DataFrame, computed with range buckets + per-bucket ranks
    instead of Spark's hash-map ``percentile`` aggregate.

    The built-in exact percentile materializes a value→count map per
    partial and merges them single-threaded — at 100 TB the map IS the
    column. This shape never holds more than a bucket of values in one
    task: (1) count/min/max, (2) 256-way range bucketing → per-bucket
    counts → bucket rank offsets (256-row window), (3) per-bucket sort
    for in-bucket rank, (4) equi-join the ≤2 global target ranks per
    percentile (broadcast) and blend ``v[lo]·(1−frac) + v[hi]·frac``.
    Ties across ranks are value-identical so row_number tie-order
    can't change the result.

    Skew caveat: a heavily-duplicated value range can concentrate one
    bucket (worst case: one task sorts most rows). For such columns
    add a second pass that re-buckets the hot bucket by value hash for
    counting and only sorts the two target buckets; the driver corpus
    (and most metric columns) spread fine over 256 range buckets.
    """
    nb = 256
    stats = vals.agg(
        F.count(F.lit(1)).alias("n"), F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    width = (F.col("mx") - F.col("mn")) / nb
    b = vals.crossJoin(F.broadcast(stats)).select(
        "v",
        F.when(F.col("mx") > F.col("mn"),
               F.least(F.lit(nb - 1), F.floor((F.col("v") - F.col("mn")) / width).cast("int")))
        .otherwise(F.lit(0))
        .alias("b"),
    )
    bcnt = b.groupBy("b").agg(F.count(F.lit(1)).alias("cnt"))
    wo = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    off = bcnt.select("b", F.coalesce(F.sum("cnt").over(wo), F.lit(0)).alias("off"))
    wb = Window.partitionBy("b").orderBy("v")
    ranked = b.join(F.broadcast(off), "b").select(
        "v", (F.col("off") + F.row_number().over(wb) - 1).alias("r")
    )
    # Target ranks: per percentile p emit (floor(h), 1−frac) and
    # (ceil(h), frac) with h=(n−1)p; when h is integral the pair
    # collapses to weights (1, 0) on the same rank, so the weighted
    # sum below is always the interpolated value.
    h = {name: (F.col("n") - 1) * p for name, p in out.items()}
    structs = []
    for name in out:
        frac = h[name] - F.floor(h[name])
        structs.append(F.struct(F.lit(name).alias("p"),
                                F.floor(h[name]).cast("long").alias("rank"),
                                (1 - frac).alias("w")))
        structs.append(F.struct(F.lit(name).alias("p"),
                                F.ceil(h[name]).cast("long").alias("rank"),
                                frac.alias("w")))
    tgt = stats.select(F.explode(F.array(*structs)).alias("t")).select("t.*")
    per_p = (
        ranked.join(F.broadcast(tgt), ranked["r"] == tgt["rank"])
        .groupBy("p")
        .agg(F.sum(F.col("v") * F.col("w")).alias("val"))
    )
    return per_p.agg(
        *[F.max(F.when(F.col("p") == name, F.col("val"))).alias(name) for name in out]
    )


#: Datasketches KLL (default k=200) normalized rank error ≈ 1.65%;
#: l_extendedprice is smooth, so the VALUE error stays inside 5% at
#: every SF tested (deterministic sketch — Spark's kll_sketch_agg
#: compaction is seedless).
_KLL_REL_ERR_BOUND = 0.05

ORACLE_AGG_KLL_MERGEABLE = """
SELECT floor((quantile_cont(l_extendedprice, 0.5)) * 10000 + 0.5) / 10000.0 AS exact_p50,
       floor((quantile_cont(l_extendedprice, 0.9)) * 10000 + 0.5) / 10000.0 AS exact_p90,
       count(*) AS n_rows,
       TRUE AS p50_within_bound,
       TRUE AS p90_within_bound,
       TRUE AS sketch_saw_all_rows
FROM lineitem
"""

QUERIES["agg_kll_quantile_mergeable"] = agg_kll_quantile_mergeable
ORACLE["agg_kll_quantile_mergeable"] = ORACLE_AGG_KLL_MERGEABLE


def agg_theta_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra on theta sketches: estimated union / intersection /
    difference of the 1996-vs-1997 buyer sets from two one-pass
    sketches — the capability HLL lacks (HLL only unions). At scale
    each cohort's sketch is built in its own partition-parallel pass
    and the algebra happens on KB-sized state. Hash-oracled as a
    BOUNDS CHECK (estimates are Datasketches-specific): output is the
    exact union/intersection/difference counts plus booleans asserting
    each estimate landed within ``_THETA_REL_ERR_BOUND`` of exact —
    intersection/difference errors are measured relative to the UNION
    size (the theta set-algebra guarantee); the oracle pins TRUE."""
    orders = _t(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    s96 = orders.where(yr == 1996).agg(
        F.theta_sketch_agg("o_custkey").alias("s96")
    )
    s97 = orders.where(yr == 1997).agg(
        F.theta_sketch_agg("o_custkey").alias("s97")
    )
    est = s96.crossJoin(s97).select(
        F.expr("theta_sketch_estimate(theta_union(s96, s97))").alias("est_union"),
        F.expr("theta_sketch_estimate(theta_intersection(s96, s97))").alias(
            "est_both_years"
        ),
        F.expr("theta_sketch_estimate(theta_difference(s96, s97))").alias(
            "est_only_1996"
        ),
    )
    flags = orders.where(yr.isin(1996, 1997)).groupBy("o_custkey").agg(
        F.max((yr == 1996).cast("int")).alias("in96"),
        F.max((yr == 1997).cast("int")).alias("in97"),
    )
    exact = flags.agg(
        F.count(F.lit(1)).alias("exact_union"),
        F.sum(F.col("in96") * F.col("in97")).alias("exact_both_years"),
        F.sum(F.col("in96") * (1 - F.col("in97"))).alias("exact_only_1996"),
    )
    return est.crossJoin(exact).select(
        "exact_union",
        "exact_both_years",
        "exact_only_1996",
        (F.abs(F.col("est_union") - F.col("exact_union"))
         <= _THETA_REL_ERR_BOUND * F.col("exact_union")
         ).alias("union_within_bound"),
        (F.abs(F.col("est_both_years") - F.col("exact_both_years"))
         <= _THETA_REL_ERR_BOUND * F.col("exact_union")
         ).alias("intersection_within_bound"),
        (F.abs(F.col("est_only_1996") - F.col("exact_only_1996"))
         <= _THETA_REL_ERR_BOUND * F.col("exact_union")
         ).alias("difference_within_bound"),
    )


#: Theta sketches (default 4096 nominal entries) estimate within
#: ≈1.6% rsd once sampling starts, and are EXACT below 4096 keys; the
#: set-algebra error scales with the union, so 5%·union bounds all
#: three estimates at every SF tested.
_THETA_REL_ERR_BOUND = 0.05

ORACLE_AGG_THETA_SETOPS = """
WITH flags AS (
  SELECT o_custkey,
         max(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END) AS in96,
         max(CASE WHEN year(o_orderdate) = 1997 THEN 1 ELSE 0 END) AS in97
  FROM orders
  WHERE year(o_orderdate) IN (1996, 1997)
  GROUP BY o_custkey
)
SELECT count(*) AS exact_union,
       CAST(sum(in96 * in97) AS BIGINT) AS exact_both_years,
       CAST(sum(in96 * (1 - in97)) AS BIGINT) AS exact_only_1996,
       TRUE AS union_within_bound,
       TRUE AS intersection_within_bound,
       TRUE AS difference_within_bound
FROM flags
"""

QUERIES["agg_theta_sketch_setops"] = agg_theta_sketch_setops
ORACLE["agg_theta_sketch_setops"] = ORACLE_AGG_THETA_SETOPS


def q12_ship_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: lines bucketed by ship lag (>90 days = slow;
    the driver schema has no l_shipmode, so the lag bucket plays its
    role), with conditional counts of high- vs low-priority orders
    per bucket. The date-band filter pushes to the lineitem scan; the
    ship-lag CASE needs both join sides so it evaluates post-join;
    the whole query is one fact-fact join plus a 2-row conditional
    aggregation. Lag is computed on epoch µs (never per-timestamp
    second truncation — cross-engine ±1s trap)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    lo = F.lit("1996-01-01").cast("timestamp_ntz")
    hi = F.lit("1997-01-01").cast("timestamp_ntz")
    lag_us = F.unix_micros(F.col("l_shipdate").cast("timestamp")) - F.unix_micros(
        F.col("o_orderdate").cast("timestamp")
    )
    mode = F.when(lag_us > 90 * 86_400_000_000, "slow").otherwise("fast")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.where((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(mode.alias("ship_mode"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


ORACLE_Q12 = """
SELECT CASE WHEN epoch_us(l_shipdate) - epoch_us(o_orderdate) > 90 * 86400000000
            THEN 'slow' ELSE 'fast' END AS ship_mode,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY 1
"""


QUERIES["q12_ship_priority_class"] = q12_ship_priority_class
ORACLE["q12_ship_priority_class"] = ORACLE_Q12


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: the cheapest supplier per part inside a region
    (the driver schema has no partsupp, so the catalog derives from
    observed lineitem unit prices). The correlated MIN becomes a tiny
    (part, supplier)-grain aggregate plus a min-per-part join-back —
    both keyed on partkey so they share a shuffle — then every
    dimension broadcasts.

    Exactness discipline (round 17, scheduled ledger repair — the last
    TPC-H double avg with q17, q20 landed r16): the catalog unit price
    was a float64 AVG of per-row price/qty doubles — order-dependent
    accumulation.  Each per-row unit price now enters as a 1e-4-unit
    LONG (``quantn(price/qty, 4)``; the division is one identical IEEE
    op on both engines), so the per-(part, supplier) sum is exact in
    any accumulation order and the 4-dp half-up mean is
    ``floor(Σu4/n + 0.5)/1e4``.  The min-per-part and the equality
    join-back then operate on identical exact-derived values, so both
    engines elect the same winner by construction.  Exact while a
    (part, supplier) group's 1e-4-unit price sum stays inside 2^53
    (unit prices are O(1e4): ~1e5-row groups × 1e9 headroom)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    # Push the part predicate BELOW the heavy (part, supplier) catalog
    # aggregate: p_size >= 40 keeps ~1/5 of parts, and min_price is
    # per-partkey, so semi-joining lineitem against the broadcast
    # filtered part keys first shrinks the aggregate 5× without
    # changing any surviving row.
    # No broadcast hint on the key set: part keys are O(SF) rows, so a
    # forced broadcast would be wrong at the 100 TB end even though
    # part is dimension-like at test scale — the planner's size
    # estimate (and AQE) still elects broadcast whenever it fits.
    keep = part.where(F.col("p_size") >= 40).select("p_partkey")
    li = li.join(keep, li["l_partkey"] == keep["p_partkey"], "left_semi")
    catalog = li.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(
        int_mean(F.col("l_extendedprice") / F.col("l_quantity"), 4).alias(
            "unit_price"
        )
    )
    best = catalog.groupBy("partkey").agg(F.min("unit_price").alias("min_price"))
    return (
        catalog.join(
            best,
            (catalog["partkey"] == best["partkey"])
            & (catalog["unit_price"] == best["min_price"]),
        )
        .drop(best["partkey"])
        .join(F.broadcast(part.where(F.col("p_size") >= 40)),
              F.col("partkey") == F.col("p_partkey"))
        .join(F.broadcast(supplier), F.col("suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region.where(F.col("r_name") == "ASIA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            F.col("n_name").alias("nation"),
            "unit_price",
        )
        .orderBy("unit_price", "p_partkey", "s_name")
        .limit(10)
    )


ORACLE_Q2 = f"""
WITH catalog AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         {sql_int_mean('l_extendedprice / l_quantity', 4)} AS unit_price
  FROM lineitem GROUP BY l_partkey, l_suppkey),
best AS (
  SELECT partkey, min(unit_price) AS min_price FROM catalog GROUP BY partkey)
SELECT p.p_partkey, p.p_name, s.s_name, n.n_name AS nation, c.unit_price
FROM catalog c
JOIN best b     ON c.partkey = b.partkey AND c.unit_price = b.min_price
JOIN part p     ON c.partkey = p.p_partkey
JOIN supplier s ON c.suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE p.p_size >= 40 AND r.r_name = 'ASIA'
ORDER BY c.unit_price, p.p_partkey, s.s_name
LIMIT 10
"""


def q20_excess_volume_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers shipping well above the per-part
    average of a name-filtered part family — the nested-aggregate
    (agg of an agg) pattern Q20 exercises through its IN-subquery
    chain, decorrelated here into a (part, supplier) rollup joined
    against its own per-part average. Quantities round to 2dp before
    the 1.5× threshold so the boundary is engine-identical.

    Exactness discipline (round 16 — pulled forward from the r17
    ledger slot because this key sits in the r16 window): quantities
    enter as 1e-2-unit LONGS, so the per-(part, supplier) sum and the
    per-part mean numerator are exact integers in any accumulation
    order; the 2-dp half-up mean is floor(Σq/n + 0.5) in centi-units
    and the 1.5× threshold is the cross-multiplied integer compare
    2·qty_c > 3·avg_c — no float survives into the comparison.
    Exact while a part family's centi-quantity sum stays inside
    2^53."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supplier = _t(spark, sf_dir, "supplier")
    shipped = (
        li.join(F.broadcast(part.where(F.col("p_name").like("%red%"))),
                li["l_partkey"] == part["p_partkey"])
        .groupBy(F.col("l_partkey").alias("partkey"),
                 F.col("l_suppkey").alias("suppkey"))
        .agg(F.sum(quantn(F.col("l_quantity"), 2)).alias("qty_c"))
    )
    avg_part = shipped.groupBy(F.col("partkey").alias("ap_key")).agg(
        F.floor(
            F.sum("qty_c").cast("double") / F.count(F.lit(1)) + F.lit(0.5)
        ).alias("avg_c")
    )
    return (
        shipped.join(avg_part, F.col("partkey") == F.col("ap_key"))
        .where(F.col("qty_c") * 2 > F.col("avg_c") * 3)
        .join(F.broadcast(supplier), F.col("suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("n_excess_parts"))
    )


ORACLE_Q20 = """
WITH shipped AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS qty_c
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%red%'
  GROUP BY l_partkey, l_suppkey),
avg_part AS (
  SELECT partkey,
         floor(CAST(sum(qty_c) AS DOUBLE) / count(*) + 0.5) AS avg_c
  FROM shipped GROUP BY partkey)
SELECT s_suppkey, s_name, count(*) AS n_excess_parts
FROM supplier
JOIN shipped  ON s_suppkey = suppkey
JOIN avg_part USING (partkey)
WHERE qty_c * 2 > avg_c * 3
GROUP BY s_suppkey, s_name
"""


QUERIES.update(
    {
        "q2_min_cost_supplier": q2_min_cost_supplier,
        "q20_excess_volume_supplier": q20_excess_volume_supplier,
    }
)
ORACLE.update(
    {
        "q2_min_cost_supplier": ORACLE_Q2,
        "q20_excess_volume_supplier": ORACLE_Q20,
    }
)


def agg_string_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG / string_agg surface: ordered CSV of supplier names per
    nation. Spark has no ordered string_agg aggregate, so the
    deterministic formulation is collect_list → array_sort →
    array_join — same partial/final hash-agg plan as any collect, with
    the ordering imposed row-locally after the merge (never a global
    sort). Group cardinality bounds the state, so this is safe
    exactly where LISTAGG is safe in any engine."""
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    return (
        supplier.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.array_join(F.array_sort(F.collect_list("s_name")), ",").alias(
                "supplier_csv"
            ),
        )
    )


ORACLE_AGG_STRING_LISTAGG = """
SELECT n_name, count(*) AS n_suppliers,
       string_agg(s_name, ',' ORDER BY s_name) AS supplier_csv
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


QUERIES["agg_string_listagg"] = agg_string_listagg
ORACLE["agg_string_listagg"] = ORACLE_AGG_STRING_LISTAGG


def nested_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: per-customer priority→count maps built with
    ``map_from_entries`` over a sorted entry list, inspected with
    ``map_keys``, and exploded back to relational rows (scalar output
    — array/map columns don't survive order-insensitive comparison,
    so the map round-trips *inside* the plan). Proves the engine's
    nested-map construction, interrogation, and flattening paths; the
    oracle reproduces the same relation without the map detour."""
    orders = _t(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    m = per.groupBy("o_custkey").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("o_orderpriority", "n")))
        ).alias("prio_map")
    )
    return m.select(
        "o_custkey",
        F.explode("prio_map").alias("priority", "n_orders"),
        F.size(F.map_keys(F.col("prio_map"))).cast("long").alias("n_distinct_prios"),
    ).select("o_custkey", "priority", "n_orders", "n_distinct_prios")


ORACLE_NESTED_MAP_OPS = """
WITH per AS (
  SELECT o_custkey, o_orderpriority AS priority, count(*) AS n_orders
  FROM orders GROUP BY o_custkey, o_orderpriority),
k AS (
  SELECT o_custkey, count(*) AS n_distinct_prios FROM per GROUP BY o_custkey)
SELECT p.o_custkey, p.priority, p.n_orders, k.n_distinct_prios
FROM per p JOIN k USING (o_custkey)
"""


QUERIES["nested_map_ops"] = nested_map_ops
ORACLE["nested_map_ops"] = ORACLE_NESTED_MAP_OPS


# ---------------------------------------------------------------------------
# Market-basket affinity (part co-occurrence lift)
# ---------------------------------------------------------------------------

#: Minimum pair co-occurrence to report (support floor). Bounds the
#: output and — at scale — the shuffle of the pair aggregation.
_BASKET_MIN_COOC = 2


#: Default reuse strategy for basket affinity's deduped item set:
#: False = executor-local checkpoint blocks (fastest, fine on
#: local/test clusters), True = persist(DISK_ONLY), whose lineage
#: survives executor loss — the 100 TB setting.
_BASKET_RELIABLE = False


def orders_basket_affinity(
    spark: SparkSession, sf_dir: str, *, reliable: bool | None = None
) -> DataFrame:
    """Market-basket analysis over order line items: for every part
    pair co-purchased in at least ``_BASKET_MIN_COOC`` orders, the
    co-occurrence count and the lift
    ``P(a,b) / (P(a)·P(b))`` — the classic affinity score behind
    "frequently bought together".

    Scale shape (optimization r18, guide §2.3/§2.4/§3.3): one
    ``collect_set`` rollup per order replaces the old distinct →
    self-join pair generation. The per-order distinct part set IS the
    deduped item relation, so pair expansion becomes a map-side
    sorted-array comb — fan-out still quadratic only in the per-order
    item count (bounded small by the schema), never in the catalog —
    and the self-join (a broadcast build of the full fact-sized item
    relation at test scale; a second full fact shuffle at 100 TB)
    disappears entirely. The order total joins back as a broadcast
    single-row cross join (no driver action anywhere in the lineage).
    The per-part support relation carries **no broadcast hint**: it is
    one row per part — dimension-sized at test scale but O(catalog) =
    billions of rows at the 100 TB end, where a forced broadcast OOMs
    the executors. The planner's size estimate (and AQE) still elects
    broadcast whenever the support side actually fits, same rationale
    as :func:`q2_min_cost_supplier`. All counts are integers so lift
    is the only float (rounded 4-dp on both engines).

    The per-order set relation fans out to three consumers (pair
    comb, support agg, order-count agg), so it is materialized once:
    one lineitem scan + one order-keyed set shuffle total, with the
    fan-out re-reading stored blocks instead of re-scanning the fact
    table three times.  ``reliable`` (default ``_BASKET_RELIABLE``)
    picks the storage: ``False`` = lazy ``localCheckpoint``
    (executor-local blocks, fastest, fine where executor loss just
    reruns the query); ``True`` = ``persist(DISK_ONLY)``, which keeps
    lineage so a lost executor recomputes only its blocks — the
    setting for a real 100 TB cluster run.  Both paths produce
    identical results (pinned by test).
    """
    from pyspark import StorageLevel

    if reliable is None:
        reliable = _BASKET_RELIABLE
    sets = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
    )
    sets = (
        sets.persist(StorageLevel.DISK_ONLY)
        if reliable
        else sets.localCheckpoint(eager=False)
    )
    comb = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + F.lit(2), F.size(F.col("ps"))),
                lambda y: F.struct(x.alias("p1"), y.alias("p2")),
            ),
        )
    )
    pairs = (
        sets.select(F.explode(comb).alias("p"))
        .groupBy(F.col("p.p1").alias("p1"), F.col("p.p2").alias("p2"))
        .agg(F.count(F.lit(1)).cast("long").alias("cooc"))
        .where(F.col("cooc") >= _BASKET_MIN_COOC)
    )
    support = (
        sets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("sup"))
    )
    n_orders = sets.agg(F.count(F.lit(1)).cast("double").alias("n_orders"))
    sa = support.select(F.col("l_partkey").alias("p1"), F.col("sup").alias("sup1"))
    sb = support.select(F.col("l_partkey").alias("p2"), F.col("sup").alias("sup2"))
    return (
        pairs.join(sa, "p1")
        .join(sb, "p2")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "p1",
            "p2",
            "cooc",
            "sup1",
            "sup2",
            pround(
                F.col("cooc") * F.col("n_orders") / (F.col("sup1") * F.col("sup2")),
                4,
            ).alias("lift"),
        )
    )


ORACLE_ORDERS_BASKET_AFFINITY = f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, CAST(count(*) AS BIGINT) AS cooc
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= {_BASKET_MIN_COOC}),
support AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS sup FROM items GROUP BY l_partkey),
n AS (SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS n_orders FROM items)
SELECT p.p1, p.p2, p.cooc, sa.sup AS sup1, sb.sup AS sup2,
       floor((p.cooc * n.n_orders / (sa.sup * sb.sup)) * 10000 + 0.5) / 10000.0 AS lift
FROM pairs p
JOIN support sa ON sa.l_partkey = p.p1
JOIN support sb ON sb.l_partkey = p.p2
CROSS JOIN n
"""


QUERIES["orders_basket_affinity"] = orders_basket_affinity
ORACLE["orders_basket_affinity"] = ORACLE_ORDERS_BASKET_AFFINITY


# ---------------------------------------------------------------------------
# TPC-H Q17 — small-quantity-order revenue
# ---------------------------------------------------------------------------

#: Brands probed by Q17 (the spec's single brand+container pair widened to a
#: brand set so the result is multi-row; this corpus has no p_container).
_Q17_BRANDS = ("Brand#11", "Brand#22", "Brand#33", "Brand#44")


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: yearly revenue that would be lost if orders for
    less than 20% of a part's average quantity were no longer filled,
    per probed brand.

    The spec's correlated scalar subquery (``l_quantity < (SELECT 0.2 *
    avg(l_quantity) ... WHERE l2.l_partkey = p_partkey)``) is expressed
    decorrelated by construction: ONE lineitem scan pruned by a
    broadcast join against the filtered brand's parts, then a per-part
    window average over that pruned slice, then the threshold filter
    and the per-brand rollup.  No second fact-table pass, no per-row
    subquery: the window shuffle is keyed on l_partkey and only moves
    the ~4/25 of lineitem that survives the broadcast-join prune.
    Safe at 100 TB: part is dimension-sized (broadcast), everything
    else is partial-aggregated or windowed on the join key.

    Exactness discipline (round 17, scheduled ledger repair): the old
    window ``avg(l_quantity)`` was exact only because the driver
    corpus's quantities happen to be integer-valued.  Quantities now
    enter as 1e-2-unit LONGS (``quantn(q, 2)``), the per-part window
    carries the exact (Σq_c, n) pair, and the ``q < 0.2·avg``
    threshold is the cross-multiplied integer compare
    ``5·q_c·n < Σq_c`` — no float survives into the comparison at any
    quantity grid.  Revenue likewise sums exact cents and the /7.0
    yearly average is ``floor(Σc/7 + 0.5)/100`` — one IEEE division of
    an exact integer on both engines.  Exact while ``5·q_c·n`` stays
    inside int64 (~1e13 at q≈50, n=1e9 rows/part: vast headroom) and a
    brand's cent sum inside 2^53.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_brand").isin(*_Q17_BRANDS))
    pruned = li.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        li.l_partkey == F.col("p_partkey"),
    )
    w = Window.partitionBy("l_partkey")
    flagged = (
        pruned.withColumn("q_c", quantn(F.col("l_quantity"), 2))
        .withColumn("sum_qc", F.sum("q_c").over(w))
        .withColumn("n_q", F.count(F.lit(1)).over(w))
    )
    return (
        flagged.where(F.col("q_c") * 5 * F.col("n_q") < F.col("sum_qc"))
        .groupBy("p_brand")
        .agg(
            (
                F.floor(
                    F.sum(quantn(F.col("l_extendedprice"), 2)).cast("double")
                    / F.lit(7.0)
                    + F.lit(0.5)
                )
                / F.lit(100.0)
            ).alias("avg_yearly")
        )
        .orderBy("p_brand")
    )


ORACLE_Q17 = f"""
WITH pruned AS (
  SELECT l.l_partkey, l.l_quantity, l.l_extendedprice, p.p_brand
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_brand IN {_Q17_BRANDS!r}
),
flagged AS (
  SELECT p_brand, l_extendedprice,
         CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS q_c,
         sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
             OVER (PARTITION BY l_partkey) AS sum_qc,
         count(*) OVER (PARTITION BY l_partkey) AS n_q
  FROM pruned
)
SELECT p_brand,
       floor(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) / 7.0 + 0.5) / 100.0 AS avg_yearly
FROM flagged
WHERE q_c * 5 * n_q < sum_qc
GROUP BY p_brand
ORDER BY p_brand
"""


QUERIES["q17_small_quantity_revenue"] = q17_small_quantity_revenue
ORACLE["q17_small_quantity_revenue"] = ORACLE_Q17


# ---------------------------------------------------------------------------
# Mode + median per group
# ---------------------------------------------------------------------------

def agg_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag central-tendency trio: exact interpolated median
    of quantity, deterministic modal ship-mode-style category
    (l_linestatus), and the mode's share.

    Engine ``mode()`` breaks frequency ties arbitrarily (Spark and
    DuckDB disagree), so the mode is computed as an explicit argmax —
    count per (flag, status), rank by (count DESC, status ASC) — which
    is deterministic on BOTH engines and plans as one hash aggregate
    plus a window over the tiny (flags × statuses) frame.  The median
    rides Spark's exact ``median``/DuckDB's ``median`` (identical
    average-of-middle-two interpolation on integer-valued doubles)."""
    li = _t(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        pround(F.median("l_quantity"), 4).alias("median_qty"),
    )
    counts = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("c"), F.asc("l_linestatus"))
    modes = (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "l_returnflag",
            F.col("l_linestatus").alias("mode_status"),
            F.col("c").alias("mode_count"),
        )
    )
    return (
        med.join(modes, "l_returnflag")
        .select(
            "l_returnflag",
            "n_rows",
            "median_qty",
            "mode_status",
            "mode_count",
            pround(F.col("mode_count") / F.col("n_rows"), 4).alias("mode_share"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_AGG_MODE_MEDIAN = """
WITH med AS (
  SELECT l_returnflag, count(*) AS n_rows,
         floor((median(l_quantity)) * 10000 + 0.5) / 10000.0 AS median_qty
  FROM lineitem GROUP BY l_returnflag
),
counts AS (
  SELECT l_returnflag, l_linestatus, count(*) AS c
  FROM lineitem GROUP BY l_returnflag, l_linestatus
),
modes AS (
  SELECT l_returnflag, l_linestatus AS mode_status, c AS mode_count
  FROM (
    SELECT *, row_number() OVER (PARTITION BY l_returnflag
                                 ORDER BY c DESC, l_linestatus ASC) AS rk
    FROM counts
  ) WHERE rk = 1
)
SELECT m.l_returnflag, m.n_rows, m.median_qty,
       d.mode_status, d.mode_count,
       floor((d.mode_count * 1.0 / m.n_rows) * 10000 + 0.5) / 10000.0 AS mode_share
FROM med m JOIN modes d ON m.l_returnflag = d.l_returnflag
ORDER BY m.l_returnflag
"""


QUERIES["agg_mode_median"] = agg_mode_median
ORACLE["agg_mode_median"] = ORACLE_AGG_MODE_MEDIAN


# ---------------------------------------------------------------------------
# Bloom-filter membership audit
# ---------------------------------------------------------------------------

#: Bloom layout: m bits, k md5-seeded hash positions per key.
_BLOOM_M = 4096
_BLOOM_K = 3


def agg_bloom_filter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a Bloom filter over the customer key set, probe it with a
    key population of known partial overlap (part keys — the ranges
    overlap at the low end and diverge above), and report the observed
    vs theoretical false-positive rate.

    This is the membership sketch the pack's HLL/KLL/theta/CMS family
    lacked, and the one Spark itself injects as a runtime join filter.
    The filter is relational the mergeable way: the bit array IS a
    distinct-position relation (≤ m rows after a map-side-partial
    distinct), built per partition and merged by union — no
    driver-side bitset.  Probing is one position-equi join against
    that ≤ m-row relation (broadcastable by size estimate, never
    hinted) plus an exact semi-join for ground truth; everything is
    md5-derived, so both engines compute identical bits.
    """
    cust = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("key"))
    probe = _t(spark, sf_dir, "part").select(F.col("p_partkey").alias("key"))

    def positions(df: DataFrame) -> DataFrame:
        pos = F.explode(
            F.array(
                *[
                    (
                        _hex_prefix_int(f"md5(concat(cast(key as string), '#b{i}'))", 8)
                        % _BLOOM_M
                    )
                    for i in range(_BLOOM_K)
                ]
            )
        ).alias("pos")
        return df.select("key", pos).distinct()

    bits = positions(cust).select("pos").distinct()
    probe_pos = positions(probe)
    per_key = (
        probe_pos.join(bits.withColumn("hit", F.lit(1)), "pos", "left")
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_pos"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits"),
        )
        .withColumn("maybe", (F.col("n_hits") == F.col("n_pos")).cast("int"))
    )
    flagged = per_key.join(
        cust.withColumn("is_member", F.lit(1)), "key", "left"
    ).select("key", "maybe", F.coalesce("is_member", F.lit(0)).alias("is_member"))

    build_stats = cust.agg(F.count(F.lit(1)).alias("n_members")).crossJoin(
        F.broadcast(bits.agg(F.count(F.lit(1)).alias("n_bits_set")))
    )
    probe_stats = flagged.agg(
        F.count(F.lit(1)).alias("n_probed"),
        F.sum("is_member").alias("n_true_members"),
        F.sum("maybe").alias("n_maybe"),
        F.sum(
            F.when((F.col("maybe") == 1) & (F.col("is_member") == 0), 1).otherwise(0)
        ).alias("n_false_positive"),
    )
    return build_stats.crossJoin(F.broadcast(probe_stats)).select(
        "n_members",
        "n_bits_set",
        pround(F.col("n_bits_set") / F.lit(float(_BLOOM_M)), 6).alias("fill_ratio"),
        "n_probed",
        "n_true_members",
        "n_maybe",
        "n_false_positive",
        pround(
            F.when(
                F.col("n_probed") > F.col("n_true_members"),
                F.col("n_false_positive")
                / (F.col("n_probed") - F.col("n_true_members")),
            ),
            6,
        ).alias("fpr_observed"),
        # (1 - e^{-kn/m})^k on the rounded fill ratio, so the base the
        # power sees is identical across engines.
        pround(
            F.pow(
                pround(F.col("n_bits_set") / F.lit(float(_BLOOM_M)), 6),
                F.lit(_BLOOM_K),
            ),
            6,
        ).alias("fpr_theoretical"),
    )


def _sql_bloom_positions(src: str) -> str:
    terms = []
    for i in range(_BLOOM_K):
        digest = "md5(CAST(key AS VARCHAR) || '#b%d')" % i
        terms.append(f"({_hex_to_int_sql(digest, 8)}) % {_BLOOM_M}")
    return f"SELECT DISTINCT key, unnest([{', '.join(terms)}]) AS pos FROM {src}"


ORACLE_AGG_BLOOM_FILTER_AUDIT = f"""
WITH cust AS (SELECT c_custkey AS key FROM customer),
probe AS (SELECT p_partkey AS key FROM part),
cust_pos AS ({_sql_bloom_positions("cust")}),
probe_pos AS ({_sql_bloom_positions("probe")}),
bits AS (SELECT DISTINCT pos FROM cust_pos),
per_key AS (
  SELECT pp.key,
         count(*) AS n_pos,
         sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
  FROM probe_pos pp LEFT JOIN bits b ON pp.pos = b.pos
  GROUP BY pp.key
),
flagged AS (
  SELECT pk.key,
         CAST(CASE WHEN pk.n_hits = pk.n_pos THEN 1 ELSE 0 END AS INTEGER) AS maybe,
         CASE WHEN c.key IS NOT NULL THEN 1 ELSE 0 END AS is_member
  FROM per_key pk LEFT JOIN cust c ON pk.key = c.key
),
build_stats AS (
  SELECT (SELECT count(*) FROM cust) AS n_members,
         (SELECT count(*) FROM bits) AS n_bits_set
),
probe_stats AS (
  SELECT count(*) AS n_probed,
         CAST(sum(is_member) AS BIGINT) AS n_true_members,
         CAST(sum(maybe) AS BIGINT) AS n_maybe,
         CAST(sum(CASE WHEN maybe = 1 AND is_member = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_false_positive
  FROM flagged
)
SELECT n_members, n_bits_set,
       floor((n_bits_set * 1.0 / {float(_BLOOM_M)}) * 1000000 + 0.5) / 1000000.0 AS fill_ratio,
       n_probed, n_true_members, n_maybe, n_false_positive,
       CASE WHEN n_probed > n_true_members
            THEN floor((n_false_positive * 1.0 / (n_probed - n_true_members)) * 1000000 + 0.5) / 1000000.0
            END AS fpr_observed,
       floor(pow(floor((n_bits_set * 1.0 / {float(_BLOOM_M)}) * 1000000 + 0.5) / 1000000.0,
                 {_BLOOM_K}) * 1000000 + 0.5) / 1000000.0 AS fpr_theoretical
FROM build_stats CROSS JOIN probe_stats
"""


QUERIES["agg_bloom_filter_audit"] = agg_bloom_filter_audit
ORACLE["agg_bloom_filter_audit"] = ORACLE_AGG_BLOOM_FILTER_AUDIT


# ---------------------------------------------------------------------------
# Order→ship latency percentiles
# ---------------------------------------------------------------------------

def events_shipping_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per order priority: exact
    p50/p90/p99 of ``l_shipdate − o_orderdate`` in days — the
    fact-to-fact temporal SLA metric every fulfilment dashboard runs.

    One orderkey-equi join (orders is the smaller side; AQE elects
    broadcast at small SF, sort-merge at scale — no hint) and one hash
    aggregate; the exact percentiles use Spark ``percentile`` ==
    DuckDB ``quantile_cont`` (identical interpolation, integer-valued
    day counts, so no cross-engine float drift).  Dates are cast
    explicitly so both engines count calendar-day boundaries."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    lat = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "o_orderpriority",
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("lat_days"),
    )
    pct = F.percentile("lat_days", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return (
        lat.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            pround(F.avg("lat_days"), 4).alias("avg_days"),
            F.min("lat_days").cast("long").alias("min_days"),
            F.max("lat_days").cast("long").alias("max_days"),
            pct.alias("p"),
        )
        .select(
            "o_orderpriority",
            "n_lineitems",
            "avg_days",
            "min_days",
            "max_days",
            pround(F.element_at("p", 1), 4).alias("p50_days"),
            pround(F.element_at("p", 2), 4).alias("p90_days"),
            pround(F.element_at("p", 3), 4).alias("p99_days"),
        )
        .orderBy("o_orderpriority")
    )


ORACLE_EVENTS_SHIPPING_LATENCY = """
WITH lat AS (
  SELECT o_orderpriority,
         datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS lat_days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT o_orderpriority,
       count(*) AS n_lineitems,
       floor((avg(lat_days)) * 10000 + 0.5) / 10000.0 AS avg_days,
       min(lat_days) AS min_days,
       max(lat_days) AS max_days,
       floor((quantile_cont(lat_days, 0.5))  * 10000 + 0.5) / 10000.0 AS p50_days,
       floor((quantile_cont(lat_days, 0.9))  * 10000 + 0.5) / 10000.0 AS p90_days,
       floor((quantile_cont(lat_days, 0.99)) * 10000 + 0.5) / 10000.0 AS p99_days
FROM lat
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


QUERIES["events_shipping_latency"] = events_shipping_latency
ORACLE["events_shipping_latency"] = ORACLE_EVENTS_SHIPPING_LATENCY


# ---------------------------------------------------------------------------
# TPC-H Q11 / Q16 (completing the 22-query suite)
# ---------------------------------------------------------------------------

#: Q11 keep-threshold: a part survives if its stock value exceeds
#: this multiple of the MEAN per-part value.  TPC-H's 0.0001/SF
#: fraction bakes the scale factor into the literal; the mean-relative
#: form keeps the top tail non-degenerate at every SF with the same
#: uncorrelated-scalar-subquery shape.  Integer multiple so the
#: threshold compare stays in exact integer arithmetic (see cents
#: note in the docstring).
_Q11_MEAN_MULTIPLE = 2
_Q11_NATION = "NATION_3"


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — per-part stock value concentrated in one
    nation's suppliers, kept only where it exceeds a fixed fraction of
    that nation's total.  The driver schema has no partsupp, so value
    derives from observed lineitem revenue per part
    (``Σ l_extendedprice·(1−l_discount)``), the same catalog-from-fact
    adaptation as :func:`q2_min_cost_supplier`.

    Plan: the nation's supplier keys broadcast into a semi join (the
    nation filter reaches the fact scan's join, never a post-filter),
    then the per-part hash aggregate feeds both consumers — the
    HAVING threshold is its 1-row re-aggregate cross-joined back as a
    broadcast scalar (the uncorrelated-subquery shape).  DataFrame
    lineage duplicates the subtree statically, but AQE's exchange
    reuse collapses it at execution (plan-pinned): the partkey
    shuffle and the fact scan below it run once physically, so at
    100 TB the only heavy edges are one fact semi join + one partkey
    shuffle.

    Money sums accumulate as INTEGER CENTS (each row's revenue is
    rounded to cents first, then summed as bigint): integer addition
    is order-independent, so the result is bit-identical across
    engines AND across runs — at cluster scale a double sum's
    reduce order is nondeterministic, which would make both the
    HAVING boundary and the reported value flap run-to-run (observed
    as a 1-cent oracle mismatch at sf0.1 before the change).  The
    threshold compare ``v·n > k·Σv`` is pure integer arithmetic."""
    li = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    nat_sup = supplier.join(
        F.broadcast(nation.where(F.col("n_name") == _Q11_NATION)),
        supplier["s_nationkey"] == nation["n_nationkey"],
    ).select("s_suppkey")
    filt = li.join(
        F.broadcast(nat_sup), li["l_suppkey"] == nat_sup["s_suppkey"], "left_semi"
    )
    rev_cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("long")
    per_part = filt.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(rev_cents).alias("v")
    )
    total = per_part.agg(
        F.sum("v").alias("tot"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(
            F.col("v") * F.col("n_parts")
            > F.lit(_Q11_MEAN_MULTIPLE) * F.col("tot")
        )
        .select(
            "partkey", (F.col("v") / 100.0).alias("stock_value")
        )
        .orderBy(F.desc("stock_value"), F.asc("partkey"))
    )


ORACLE_Q11_IMPORTANT_STOCK = f"""
WITH filt AS (
  SELECT l_partkey,
         CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)
           AS rev_cents
  FROM lineitem
  WHERE l_suppkey IN (
    SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = '{_Q11_NATION}')
),
per_part AS (
  SELECT l_partkey AS partkey, CAST(sum(rev_cents) AS BIGINT) AS v
  FROM filt GROUP BY l_partkey
),
total AS (
  SELECT CAST(sum(v) AS BIGINT) AS tot, count(*) AS n_parts FROM per_part
)
SELECT partkey, v / 100.0 AS stock_value
FROM per_part, total
WHERE v * n_parts > {_Q11_MEAN_MULTIPLE} * tot
ORDER BY stock_value DESC, partkey ASC
"""


QUERIES["q11_important_stock"] = q11_important_stock
ORACLE["q11_important_stock"] = ORACLE_Q11_IMPORTANT_STOCK


#: Q16 part-attribute predicates (brand excluded, type prefix
#: excluded, size whitelist — the TPC-H literals, retargeted at the
#: driver's value space).
_Q16_BAD_BRAND = "Brand#16"
_Q16_BAD_TYPE_PREFIX = "MEDIUM"
_Q16_SIZES = (1, 4, 9, 14, 19, 24, 29, 34)


def q16_parts_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — how many distinct suppliers can provide each
    surviving (brand, type, size) bucket, excluding a blocklisted
    supplier set.  Adaptations to the driver schema: partsupp derives
    from distinct lineitem (part, supplier) pairs; the
    complaints-in-comment exclusion becomes ``s_acctbal < 0`` (no
    comment column exists).

    Plan: ONE distinct shuffle builds the pair catalog; the
    blocklist is a broadcast LEFT ANTI (it is a filtered dimension —
    tiny at any SF); part attributes broadcast into the pair relation
    (p_partkey-pruned columns only); the final (brand, type, size)
    aggregate is the only other shuffle.  countDistinct is exact — at
    100 TB swap for the audited HLL lane (``agg_hll_mergeable``) if
    the bucket count explodes, as the docstring there prescribes.

    Optimization r18 (guide §2.3/§3.2): the selective part filter and
    the supplier blocklist apply BELOW the distinct as map-side
    broadcast semi/anti joins, so the pair-distinct exchange carries
    only surviving-part rows (~1/6 of the fact pairs) instead of the
    whole catalog — the same pairs survive either side of the
    distinct, so the result is unchanged."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supplier = _t(spark, sf_dir, "supplier")
    blocked = supplier.where(F.col("s_acctbal") < 0).select("s_suppkey")
    partf = part.where(
        (F.col("p_brand") != _Q16_BAD_BRAND)
        & (~F.col("p_type").startswith(_Q16_BAD_TYPE_PREFIX))
        & (F.col("p_size").isin(*_Q16_SIZES))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    pairs = (
        li.select("l_partkey", "l_suppkey")
        .join(
            F.broadcast(partf.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .join(
            F.broadcast(blocked),
            F.col("l_suppkey") == blocked["s_suppkey"],
            "left_anti",
        )
        .distinct()
    )
    return (
        pairs.join(F.broadcast(partf), pairs["l_partkey"] == partf["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_type"), F.asc("p_size")
        )
    )


ORACLE_Q16_SUPPLIER_RELATIONSHIP = f"""
WITH pairs AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
  WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
)
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM pairs JOIN part ON l_partkey = p_partkey
WHERE p_brand <> '{_Q16_BAD_BRAND}'
  AND p_type NOT LIKE '{_Q16_BAD_TYPE_PREFIX}%'
  AND p_size IN {_Q16_SIZES}
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
"""


QUERIES["q16_parts_supplier_relationship"] = q16_parts_supplier_relationship
ORACLE["q16_parts_supplier_relationship"] = ORACLE_Q16_SUPPLIER_RELATIONSHIP


# ---------------------------------------------------------------------------
# Pairwise correlation matrix
# ---------------------------------------------------------------------------

#: Numeric lineitem measures in the correlation sweep, in output order.
_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the lineitem numeric
    measures — the feature-redundancy screen a training pipeline runs
    before fitting anything on tabular covariates.

    All C(4,2)=6 coefficients come from ONE aggregate pass (each
    ``corr`` is a mergeable co-moment aggregate — partial+final like
    any hash agg, one scan at any scale); the wide 1-row result is
    pivoted to (col_a, col_b, corr) rows with ``stack`` — plan-side,
    driver-free.  6-dp portable rounding: both engines use stable
    co-moment merges, so they agree far past that.
    """
    li = _t(spark, sf_dir, "lineitem")
    aggs = []
    pairs = []
    for i, ca in enumerate(_CORR_COLS):
        for cb in _CORR_COLS[i + 1 :]:
            pairs.append((ca, cb))
            aggs.append(pround(F.corr(ca, cb), 6).alias(f"c_{ca}_{cb}"))
    wide = li.agg(*aggs)
    stack = ", ".join(f"'{a}', '{b}', c_{a}_{b}" for a, b in pairs)
    return (
        wide.selectExpr(f"stack({len(pairs)}, {stack}) AS (col_a, col_b, corr)")
        .orderBy("col_a", "col_b")
    )


# UNION ALL of the six scalar aggregates — DuckDB evaluates each as one
# pass over lineitem; fine at oracle scale.
_CORR_ORACLE_SELECTS = "\nUNION ALL\n".join(
    f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
    f"floor(corr({a}, {b}) * 1000000 + 0.5) / 1000000.0 AS corr FROM lineitem"
    for i, a in enumerate(_CORR_COLS)
    for b in _CORR_COLS[i + 1 :]
)
ORACLE_AGG_CORR_MATRIX = f"""
SELECT * FROM (
{_CORR_ORACLE_SELECTS}
) ORDER BY col_a, col_b
"""

QUERIES["agg_corr_matrix"] = agg_corr_matrix
ORACLE["agg_corr_matrix"] = ORACLE_AGG_CORR_MATRIX


# ---------------------------------------------------------------------------
# Decile (ntile / cume_dist) distribution
# ---------------------------------------------------------------------------

def window_ntile_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-spend decile table: rank every customer by lifetime
    order value, split into ``ntile(10)`` deciles, and report each
    decile's population, spend range, and share of total revenue —
    the whale-curve / data-mixing-budget view.

    Two shuffles total: one hash agg (customer spend), one global sort
    for the window (rank/ntile/cume_dist over one ordering — Spark
    evaluates all three in a single Window node).  Ordering ties are
    broken by custkey so decile membership is deterministic and
    engine-portable.  The global window IS the scale caveat: at 100 TB
    you'd range-partition the sort (Spark's window already does via
    the exchange's range partitioner) — no driver collect anywhere.

    Integer-sum migration (r18 reduce-site sweep): per-customer spend
    is summed as exact cents (``quantn(·, 2)`` longs — o_totalprice
    is a 2-dp value stored as double, so the per-row quantization
    recovers it exactly) rather than floats.  This matters MORE here
    than at a rounding boundary: ``spend`` drives the window ORDERING,
    so a partition-order float ulp could flip two near-tied customers
    across a decile edge and fork row membership, not just a decimal.
    All downstream outputs (min/max spend, revenue share) descale or
    divide the exact long sums once.
    """
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(quantn(F.col("o_totalprice"), 2)).alias("spend_c"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy(F.desc("spend_c"), F.asc("o_custkey"))
    deciled = spend.select(
        "o_custkey",
        "spend_c",
        "n_orders",
        F.ntile(10).over(w).cast("long").alias("decile"),
        F.cume_dist().over(w).alias("cd"),
    )
    total = deciled.agg(F.sum("spend_c").alias("total_c"))
    return (
        deciled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("n_orders").alias("n_orders"),
            (F.min("spend_c") / F.lit(100.0)).alias("min_spend"),
            (F.max("spend_c") / F.lit(100.0)).alias("max_spend"),
            F.sum("spend_c").alias("_s"),
            pround(F.max("cd"), 6).alias("max_cume_dist"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "decile",
            "n_customers",
            "n_orders",
            "min_spend",
            "max_spend",
            pround(
                F.col("_s").cast("double") / F.col("total_c").cast("double"), 6
            ).alias("revenue_share"),
            "max_cume_dist",
        )
        .orderBy("decile")
    )


ORACLE_WINDOW_NTILE_CUME = f"""
WITH spend AS (
  SELECT o_custkey,
         CAST(sum({sql_quantn('o_totalprice', 2)}) AS BIGINT) AS spend_c,
         count(*) AS n_orders
  FROM orders GROUP BY o_custkey
),
deciled AS (
  SELECT o_custkey, spend_c, n_orders,
         ntile(10) OVER w AS decile,
         cume_dist() OVER w AS cd
  FROM spend
  WINDOW w AS (ORDER BY spend_c DESC, o_custkey ASC)
),
total AS (SELECT sum(spend_c) AS total_c FROM deciled)
SELECT decile,
       count(*) AS n_customers,
       CAST(sum(n_orders) AS BIGINT) AS n_orders,
       min(spend_c) / 100.0 AS min_spend,
       max(spend_c) / 100.0 AS max_spend,
       floor((CAST(sum(spend_c) AS DOUBLE) / CAST(any_value(total_c) AS DOUBLE))
             * 1000000 + 0.5) / 1000000.0
         AS revenue_share,
       floor(max(cd) * 1000000 + 0.5) / 1000000.0 AS max_cume_dist
FROM deciled, total
GROUP BY decile ORDER BY decile
"""

QUERIES["window_ntile_cume"] = window_ntile_cume
ORACLE["window_ntile_cume"] = ORACLE_WINDOW_NTILE_CUME


# ---------------------------------------------------------------------------
# Grouped OLS regression (regr_* aggregates)
# ---------------------------------------------------------------------------

def agg_regression_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group closed-form OLS fit (price ~ quantity) via the
    ``regr_slope``/``regr_intercept``/``regr_r2`` aggregate family —
    the one-pass mergeable co-moment formulation (same merge algebra
    as :func:`agg_moments`), so the fit costs exactly one hash
    aggregate at any scale; no iterative solver, no second pass."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            pround(F.regr_slope("l_extendedprice", "l_quantity"), 6).alias("slope"),
            pround(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias(
                "intercept"
            ),
            pround(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_AGG_REGRESSION_OLS = """
SELECT l_returnflag,
       count(*) AS n,
       floor(regr_slope(l_extendedprice, l_quantity) * 1000000 + 0.5) / 1000000.0
         AS slope,
       floor(regr_intercept(l_extendedprice, l_quantity) * 10000 + 0.5) / 10000.0
         AS intercept,
       floor(regr_r2(l_extendedprice, l_quantity) * 1000000 + 0.5) / 1000000.0 AS r2
FROM lineitem
GROUP BY l_returnflag ORDER BY l_returnflag
"""

QUERIES["agg_regression_ols"] = agg_regression_ols
ORACLE["agg_regression_ols"] = ORACLE_AGG_REGRESSION_OLS


# ---------------------------------------------------------------------------
# first/last/nth_value window frames
# ---------------------------------------------------------------------------

def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order trajectory via positional window functions:
    first, second, and latest order value over the customer's full
    history (``first_value``/``nth_value``/``last_value`` with an
    unbounded frame) plus the first→last drift — the
    cohort-trajectory shape.  Deterministic ordering (date, then key)
    so both engines pick identical rows; one window shuffle on the
    customer key, one dedup to a single row per customer."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    per = orders.select(
        "o_custkey",
        F.first_value("o_totalprice").over(w).alias("first_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
        F.last_value("o_totalprice").over(w).alias("last_price"),
        F.count(F.lit(1)).over(w).alias("n_orders"),
    ).distinct()
    return per.select(
        "o_custkey",
        "n_orders",
        pround("first_price", 2).alias("first_price"),
        pround("second_price", 2).alias("second_price"),
        pround("last_price", 2).alias("last_price"),
        pround(F.col("last_price") - F.col("first_price"), 2).alias("drift"),
    ).orderBy("o_custkey")


ORACLE_WINDOW_FIRST_LAST_NTH = """
WITH per AS (
  SELECT DISTINCT o_custkey,
         first_value(o_totalprice) OVER w AS first_price,
         nth_value(o_totalprice, 2) OVER w AS second_price,
         last_value(o_totalprice) OVER w AS last_price,
         count(*) OVER w AS n_orders
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT o_custkey,
       CAST(n_orders AS BIGINT) AS n_orders,
       floor(first_price * 100 + 0.5) / 100.0 AS first_price,
       floor(second_price * 100 + 0.5) / 100.0 AS second_price,
       floor(last_price * 100 + 0.5) / 100.0 AS last_price,
       floor((last_price - first_price) * 100 + 0.5) / 100.0 AS drift
FROM per ORDER BY o_custkey
"""

QUERIES["window_first_last_nth"] = window_first_last_nth
ORACLE["window_first_last_nth"] = ORACLE_WINDOW_FIRST_LAST_NTH


# ---------------------------------------------------------------------------
# Skyline (Pareto frontier)
# ---------------------------------------------------------------------------

def agg_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) of ``part``: the parts for which no
    other part is simultaneously at-least-as-large AND at-most-as-
    expensive (strict in one dimension) — the classic multi-criteria
    shortlist operator (Börzsönyi et al., "The Skyline Operator").

    Scale shape: the naive skyline is a quadratic dominance self-join.
    For a 2-D skyline it collapses to aggregation + prefix-min: one
    map-side-combinable per-size min-price aggregate (``p_size`` is a
    BOUNDED domain — ~50 values at any corpus size), a strict
    prefix-min over that ~50-row relation (window over a bounded
    dimension table, never corpus-sized), and one broadcast join back
    to the fact scan.  A part survives iff it is the cheapest at its
    size AND strictly cheaper than every larger size's best price.
    No self-join, no N² pairs, one fact scan.
    """
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_size", "p_retailprice"
    )
    per_size = part.groupBy("p_size").agg(F.min("p_retailprice").alias("best_price"))
    w = Window.orderBy(F.desc("p_size")).rowsBetween(Window.unboundedPreceding, -1)
    frontier_sizes = per_size.select(
        "p_size",
        "best_price",
        F.min("best_price").over(w).alias("larger_best"),
    )
    return (
        part.join(F.broadcast(frontier_sizes), "p_size")
        .where(
            (F.col("p_retailprice") == F.col("best_price"))
            & (
                F.col("larger_best").isNull()
                | (F.col("p_retailprice") < F.col("larger_best"))
            )
        )
        .groupBy("p_size")
        .agg(
            pround(F.min("p_retailprice"), 2).alias("price"),
            F.count(F.lit(1)).alias("n_parts"),
            F.min("p_partkey").alias("min_partkey"),
        )
        .orderBy("p_size")
    )


# Independent oracle formulation: the textbook NOT-EXISTS dominance
# predicate — a stronger differential check than replaying the
# prefix-min rewrite.
ORACLE_AGG_SKYLINE_PARETO = """
WITH frontier AS (
  SELECT p_partkey, p_size, p_retailprice
  FROM part x
  WHERE NOT EXISTS (
    SELECT 1 FROM part y
    WHERE y.p_size >= x.p_size AND y.p_retailprice <= x.p_retailprice
      AND (y.p_size > x.p_size OR y.p_retailprice < x.p_retailprice)
  )
)
SELECT p_size,
       floor(min(p_retailprice) * 100 + 0.5) / 100.0 AS price,
       count(*) AS n_parts,
       min(p_partkey) AS min_partkey
FROM frontier
GROUP BY p_size
ORDER BY p_size
"""

QUERIES["agg_skyline_pareto"] = agg_skyline_pareto
ORACLE["agg_skyline_pareto"] = ORACLE_AGG_SKYLINE_PARETO


# ---------------------------------------------------------------------------
# Market concentration (HHI)
# ---------------------------------------------------------------------------

def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration of supplier revenue within
    each nation: HHI = Σ share_i² and the implied effective supplier
    count 1/HHI — the standard "is this market dominated by a few
    entities" audit (for corpora: is a source dominated by few
    domains).

    One-pass shape: per-supplier revenue is a map-side-combinable
    fact aggregate; HHI needs only Σrev and Σrev² per nation, so the
    second aggregate carries two scalars per supplier — no share
    materialization, no window, no second fact scan.  The supplier
    dimension broadcasts by size estimate.

    Integer-sum migration (r18 reduce-site sweep): per-supplier
    revenue is summed as exact 1e-4-unit longs
    (``extendedprice·(1−discount)`` is an exact 4-dp decimal; the
    double product's error is far below the 0.5e-4 half-up margin, so
    ``quantn(·, 4)`` recovers it bit-identically on both engines).
    The per-nation Σrev is then an exact long sum; Σrev² must stay a
    double (a squared 1e-4-unit revenue overflows int64) but each
    term now squares an EXACT integer input — identical bits per term
    on both engines — so only the ~suppliers-per-nation-term outer
    accumulation order remains float, on inputs that can no longer
    fork.  HHI is scale-free, so the 1e-4 units cancel between sumsq
    (1e-8 units) and total² (1e-8 units).
    """
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            quantn(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
        ).alias("rev_q")
    )
    per_nation = (
        rev.join(F.broadcast(supp), rev["l_suppkey"] == supp["s_suppkey"])
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum("rev_q").alias("total_q"),
            F.sum(
                F.col("rev_q").cast("double") * F.col("rev_q").cast("double")
            ).alias("sumsq"),
        )
    )
    td = F.col("total_q").cast("double")
    hhi = F.col("sumsq") / (td * td)
    return (
        per_nation.join(
            F.broadcast(nation), per_nation["s_nationkey"] == nation["n_nationkey"]
        )
        .select(
            "n_name",
            "n_suppliers",
            pround(td / F.lit(10000.0), 2).alias("total_rev"),
            F.when(F.col("total_q") > 0, pround(hhi, 6)).alias("hhi"),
            # Same expression shape as the oracle ((t*t)/sumsq, ONE
            # division) — 1/hhi would round twice and can differ in
            # the last ulp right at a floor boundary.
            F.when(
                F.col("sumsq") > 0,
                pround((td * td) / F.col("sumsq"), 4),
            ).alias("effective_n"),
        )
        .orderBy("n_name")
    )


ORACLE_AGG_HHI_CONCENTRATION = f"""
WITH rev AS (
  SELECT l_suppkey,
         CAST(sum({sql_quantn('l_extendedprice * (1 - l_discount)', 4)})
              AS BIGINT) AS rev_q
  FROM lineitem GROUP BY 1
),
per_nation AS (
  SELECT s_nationkey,
         count(*) AS n_suppliers,
         sum(rev_q) AS total_q,
         sum(CAST(rev_q AS DOUBLE) * CAST(rev_q AS DOUBLE)) AS sumsq
  FROM rev JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1
)
SELECT n_name,
       n_suppliers,
       floor((CAST(total_q AS DOUBLE) / 10000.0) * 100 + 0.5) / 100.0
         AS total_rev,
       CASE WHEN total_q > 0
            THEN floor((sumsq / (CAST(total_q AS DOUBLE) * CAST(total_q AS DOUBLE)))
                       * 1000000 + 0.5) / 1000000.0
       END AS hhi,
       CASE WHEN sumsq > 0
            THEN floor(((CAST(total_q AS DOUBLE) * CAST(total_q AS DOUBLE)) / sumsq)
                       * 10000 + 0.5) / 10000.0
       END AS effective_n
FROM per_nation JOIN nation ON s_nationkey = n_nationkey
ORDER BY n_name
"""

QUERIES["agg_hhi_concentration"] = agg_hhi_concentration
ORACLE["agg_hhi_concentration"] = ORACLE_AGG_HHI_CONCENTRATION


# ---------------------------------------------------------------------------
# Cohort lifetime value
# ---------------------------------------------------------------------------

#: LTV curve horizon in month indices (0-based).
_LTV_MONTHS = 12


def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers are grouped by their
    first-order month (the cohort), and each cohort's cumulative
    revenue per customer is tracked over the following
    ``_LTV_MONTHS`` month indices — the revenue twin of
    ``events_retention_cohort`` (which counts active users).

    Shape: one orders scan feeds both the per-customer first-month
    aggregate and (via a custkey-co-partitioned join that reuses the
    exchange) the cohort-cell aggregation.  The cumulative window
    runs over the (cohort, month_index) CELL relation — at most
    ``_LTV_MONTHS`` rows per cohort, never order-sized — and cohort
    sizes are a months-bounded relation, safe to broadcast at any
    corpus size.

    Integer-sum migration (r18 reduce-site sweep): per-cell revenue is
    summed as exact cents longs (o_totalprice is a 2-dp value stored
    as double; ``quantn(·, 2)`` recovers it exactly per row), so the
    cell sums AND the cumulative window sum are order-free — the old
    float tree needed a divide-the-rounded-cumulative workaround to
    keep a 4-dp boundary from forking across engines; with exact
    cents the cumulative itself is exact and the division happens
    once on exact inputs.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.date_trunc("month", F.col("o_orderdate")).alias("om"),
        "o_totalprice",
    )
    coh = orders.groupBy("o_custkey").agg(F.min("om").alias("cohort_month"))
    k = (
        (F.year("om") * 12 + F.month("om"))
        - (F.year("cohort_month") * 12 + F.month("cohort_month"))
    ).cast("long").alias("month_index")
    cells = (
        orders.join(coh, "o_custkey")
        .select("cohort_month", k, "o_custkey", "o_totalprice")
        .where(F.col("month_index") < _LTV_MONTHS)
        .groupBy("cohort_month", "month_index")
        .agg(
            F.countDistinct("o_custkey").alias("n_active"),
            F.sum(quantn(F.col("o_totalprice"), 2)).alias("rev_c"),
        )
    )
    sizes = coh.groupBy("cohort_month").agg(F.count(F.lit(1)).alias("cohort_n"))
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("month_index")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cells.join(F.broadcast(sizes), "cohort_month")
        .withColumn("cum_c", F.sum("rev_c").over(w))
        .select(
            "cohort_month",
            "month_index",
            "cohort_n",
            "n_active",
            (F.col("rev_c") / F.lit(100.0)).alias("revenue"),
            (F.col("cum_c") / F.lit(100.0)).alias("cum_revenue"),
            # One division of exact inputs (exact cents cumulative /
            # exact count), then one floor-half-up at 4 dp — identical
            # bits on both engines.
            pround(
                (F.col("cum_c") / F.lit(100.0)) / F.col("cohort_n"), 4
            ).alias("ltv_per_customer"),
        )
        .orderBy("cohort_month", "month_index")
    )


ORACLE_ORDERS_COHORT_LTV = f"""
WITH o AS (
  SELECT o_custkey, date_trunc('month', o_orderdate) AS om, o_totalprice
  FROM orders
),
coh AS (
  SELECT o_custkey, min(om) AS cohort_month FROM o GROUP BY 1
),
cells AS (
  SELECT cohort_month,
         (year(om) * 12 + month(om))
           - (year(cohort_month) * 12 + month(cohort_month)) AS month_index,
         count(DISTINCT o.o_custkey) AS n_active,
         CAST(sum({sql_quantn('o_totalprice', 2)}) AS BIGINT) AS rev_c
  FROM o JOIN coh ON o.o_custkey = coh.o_custkey
  WHERE (year(om) * 12 + month(om))
          - (year(cohort_month) * 12 + month(cohort_month)) < {_LTV_MONTHS}
  GROUP BY 1, 2
),
sizes AS (
  SELECT cohort_month, count(*) AS cohort_n FROM coh GROUP BY 1
),
cum AS (
  SELECT c.*, s.cohort_n,
         sum(rev_c) OVER (PARTITION BY c.cohort_month ORDER BY month_index
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c
  FROM cells c JOIN sizes s ON c.cohort_month = s.cohort_month
)
SELECT cohort_month,
       CAST(month_index AS BIGINT) AS month_index,
       cohort_n,
       n_active,
       rev_c / 100.0 AS revenue,
       cum_c / 100.0 AS cum_revenue,
       floor(((cum_c / 100.0) / cohort_n) * 10000 + 0.5)
         / 10000.0 AS ltv_per_customer
FROM cum
ORDER BY cohort_month, month_index
"""

QUERIES["orders_cohort_ltv"] = orders_cohort_ltv
ORACLE["orders_cohort_ltv"] = ORACLE_ORDERS_COHORT_LTV


# ---------------------------------------------------------------------------
# Kaplan–Meier survival (order fulfilment)
# ---------------------------------------------------------------------------

#: Right-censoring horizon for the fulfilment survival curve, in days.
_KM_CENSOR_DAYS = 60


def orders_survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve of order fulfilment time per order
    priority: S(t) = P(order still unfulfilled after t days), with
    orders not fully shipped within ``_KM_CENSOR_DAYS`` days
    right-censored at the horizon — the standard time-to-event
    estimator under censoring (the same arithmetic as churn/TTL
    survival analyses).

    Shape: fulfilment time is one orderkey-keyed fact-fact join
    (orders ⋈ max-shipdate-per-order, both sides shuffled on the
    key) — executed ONCE: the per-priority totals are derived from
    the cell relation (every base row lands in exactly one
    (priority, day) cell, so n_total = Σ_day (events + censored);
    r19, guide §2.4 — the old separate ``base.groupBy(priority)``
    branch re-ran the whole join lineage a second time).  Everything
    after runs on the (priority, day) CELL relation — at most
    ``_KM_CENSOR_DAYS``+1 rows per priority.
    The product Π(1 − d/n) is computed in log space as
    exp(cumsum(ln(1 − d/n))) over a priority-partitioned window on
    the cell relation, with an explicit survival-hits-zero flag
    (cummax of d ≥ n) instead of ln(0).  No corpus-sized window,
    no collect.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    ship = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("ship_done"))
    )
    # The synthetic corpus draws shipdates independently of order
    # dates, so raw differences can be negative; clamp at 0 (an order
    # "fulfilled before it was placed" counts as day-0 fulfilment) so
    # the curve has the real-world [0, horizon] support.
    base = orders.join(ship, orders["o_orderkey"] == ship["l_orderkey"]).select(
        "o_orderpriority",
        F.greatest(
            F.lit(0),
            F.datediff(F.to_date("ship_done"), F.to_date("o_orderdate")),
        ).alias("t_raw"),
    )
    cells = (
        base.select(
            "o_orderpriority",
            F.least(F.col("t_raw"), F.lit(_KM_CENSOR_DAYS)).cast("long").alias("t_day"),
            (F.col("t_raw") <= _KM_CENSOR_DAYS).cast("int").alias("ev"),
        )
        .groupBy("o_orderpriority", "t_day")
        .agg(
            F.sum("ev").alias("n_events"),
            F.sum(1 - F.col("ev")).alias("n_censored"),
        )
    )
    totals = cells.groupBy("o_orderpriority").agg(
        F.sum(F.col("n_events") + F.col("n_censored")).alias("n_total")
    )
    wprev = (
        Window.partitionBy("o_orderpriority")
        .orderBy("t_day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wcum = (
        Window.partitionBy("o_orderpriority")
        .orderBy("t_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Survival via an ORDER-DETERMINISTIC sequential product of the
    # exact hazard factors (collect_list over the bounded day-cell
    # frame + left fold), NOT exp(cumsum(ln)): d and n are integers,
    # so each factor 1 - d/n is the identical double in both engines,
    # and KM curves land EXACTLY on values like 0.5/0.25 where a
    # 1-ulp exp/ln libm difference would flip the 6-dp floor.  The
    # frame is at most _KM_CENSOR_DAYS+1 elements, so the per-row
    # array is bounded.
    staged = (
        cells.join(F.broadcast(totals), "o_orderpriority")
        .withColumn(
            "n_at_risk",
            F.col("n_total")
            - F.coalesce(
                F.sum(F.col("n_events") + F.col("n_censored")).over(wprev), F.lit(0)
            ),
        )
        .withColumn(
            "factor",
            F.when(
                F.col("n_events") < F.col("n_at_risk"),
                1.0 - F.col("n_events") / F.col("n_at_risk"),
            ).otherwise(F.lit(1.0)),
        )
        .withColumn(
            "dead",
            F.max((F.col("n_events") >= F.col("n_at_risk")).cast("int")).over(wcum),
        )
        .withColumn("factors", F.collect_list("factor").over(wcum))
        .withColumn(
            "survival",
            F.when(F.col("dead") == 1, F.lit(0.0)).otherwise(
                F.aggregate("factors", F.lit(1.0), lambda a, x: a * x)
            ),
        )
    )
    return staged.select(
        "o_orderpriority",
        "t_day",
        "n_at_risk",
        "n_events",
        "n_censored",
        pround("survival", 6).alias("survival"),
    ).orderBy("o_orderpriority", "t_day")


ORACLE_ORDERS_SURVIVAL_KM = f"""
WITH base AS (
  SELECT o_orderpriority,
         greatest(0, date_diff('day', CAST(o_orderdate AS DATE), CAST(ship_done AS DATE))) AS t_raw
  FROM orders JOIN (
    SELECT l_orderkey, max(l_shipdate) AS ship_done FROM lineitem GROUP BY 1
  ) s ON o_orderkey = s.l_orderkey
),
cells AS (
  SELECT o_orderpriority,
         least(t_raw, {_KM_CENSOR_DAYS}) AS t_day,
         sum(CASE WHEN t_raw <= {_KM_CENSOR_DAYS} THEN 1 ELSE 0 END) AS n_events,
         sum(CASE WHEN t_raw <= {_KM_CENSOR_DAYS} THEN 0 ELSE 1 END) AS n_censored
  FROM base GROUP BY 1, 2
),
totals AS (
  SELECT o_orderpriority, count(*) AS n_total FROM base GROUP BY 1
),
staged AS (
  SELECT c.o_orderpriority, t_day, n_events, n_censored,
         n_total - coalesce(sum(n_events + n_censored) OVER (
           PARTITION BY c.o_orderpriority ORDER BY t_day
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_at_risk
  FROM cells c JOIN totals t ON c.o_orderpriority = t.o_orderpriority
),
curved AS (
  SELECT *,
         max(CASE WHEN n_events >= n_at_risk THEN 1 ELSE 0 END) OVER (
           PARTITION BY o_orderpriority ORDER BY t_day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead,
         list_product(list(CASE WHEN n_events < n_at_risk
                      THEN 1.0 - n_events / CAST(n_at_risk AS DOUBLE)
                      ELSE 1.0 END) OVER (
           PARTITION BY o_orderpriority ORDER BY t_day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s_raw
  FROM staged
)
SELECT o_orderpriority,
       CAST(t_day AS BIGINT) AS t_day,
       CAST(n_at_risk AS BIGINT) AS n_at_risk,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(n_censored AS BIGINT) AS n_censored,
       floor((CASE WHEN dead = 1 THEN 0.0 ELSE s_raw END) * 1000000 + 0.5)
         / 1000000.0 AS survival
FROM curved
ORDER BY o_orderpriority, t_day
"""

QUERIES["orders_survival_kaplan_meier"] = orders_survival_kaplan_meier
ORACLE["orders_survival_kaplan_meier"] = ORACLE_ORDERS_SURVIVAL_KM
